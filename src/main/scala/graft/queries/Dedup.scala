package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, Text}
import graft.ops.StoreSwap

/** Deduplication operators over `documents`: exact (hash group-by),
  * MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard verification.
  *
  * Scale design: every near-dup path is LSH-bucketed — candidates come from
  * an equi-join on (band, bandhash), never a cross join, so the shuffle key
  * is the bucket and the cost is O(candidates), not O(n²). The exact-jaccard
  * verify joins shingle sets back in only for the candidate pairs.
  */
object Dedup {

  /** THE banding contract — the single source of every minhash parameter.
    * Every minhash path reads these vals through [[minhashSig]] and
    * [[bandRows]], so no two paths can band differently; the
    * persisted-index path fingerprints them into its artifact location
    * ([[indexPathFor]]) so a binary with different values can never
    * deserialize a stale index.
    */
  val ShingleK = 3
  val NumPerm = 32
  val NumBands = 8
  val RowsPerBand = 4

  /** Bump when the shingle/minhash KERNEL semantics change without a
    * parameter change (tokenizer, hash function, band packing) — the
    * persisted band index is only reusable by the binary that wrote it.
    */
  val KernelVersion = 1

  /** Chunk-key stride for [[paragraphDedup]]: chunk keys are
    * `doc_id * ParagraphChunkStride + chunk_idx`, so a document may carry
    * up to 2^22 ≈ 4.2M paragraphs (134M tokens at the default 32-token
    * window) before keys would collide with the next doc_id — and the key
    * expression RAISES before that can happen (a runtime guard, not a
    * testdata-coupled assumption; real web corpora do contain ≥32k-token
    * documents, which the previous ×1000 stride silently merged).
    * Headroom on the other side: doc_id may reach 2^41 (≈2.2e12 documents)
    * before the product overflows a long, also guarded.
    */
  val ParagraphChunkStride: Long = 1L << 22

  /** Ceiling (bytes, Catalyst size estimate) under which the incremental
    * dedup path may FORCE broadcasts of batch-derived tables. A daily
    * batch is usually ≪ corpus and the forced broadcast saves re-shuffling
    * the stored index — but "usually small" is a contract the engine must
    * check, not assume: a backfill batch at 100 TB scale would OOM the
    * driver if the hints were unconditional. 256 MB is conservative for
    * any driver sized to run this engine; above it the joins fall back to
    * plain equi-joins and AQE picks the strategy from runtime sizes.
    */
  val IncrementalBroadcastCeiling: Long = 256L << 20

  /** documents + sorted-distinct HASHED word-3-shingle set per doc
    * (codegen'd; jaccard over two of these is a linear merge, and the
    * shuffle moves 8-byte hashes instead of shingle strings).
    */
  private[queries] def shingled(df: DataFrame): DataFrame =
    df.select(
      col("doc_id"),
      HashExpressions.shingleHashSet(Text.tokens(col("text")), k = ShingleK).as("sh"))

  /** q183's pid-scoped band-table dump root (the q46 convention for
    * registered side-effect artifacts): Verify and Bench each dump under
    * their own pid, the oracle SQL interpolates the same val, and the
    * driver replays DuckDB in-process with the Verify pid's file on disk.
    */
  private val q183Dir: String = WarmStores.dumpDir("q183")

  /** q34's pid-scoped simhash dump root (the q183/q185 convention): the
    * (doc_id, sim) hash rows dump here and BOTH engines replay banding +
    * band equi-join + hamming verify over the same readback.
    */
  private val q34Dir: String = WarmStores.dumpDir("q34")

  /** q107's pid-scoped dump root: the chunk table AND the chunk band
    * table dump, and BOTH engines replay candidates → verify → fold →
    * reassembly over the same rows. (Round-14 lesson: the previous
    * exact-jaccard oracle assumed banding recall 1.0 at chunk grain —
    * "duplicated chunks are verbatim" — which held at sf0.01 and FAILED
    * at sf0.1, where one short-trailing-chunk pair with true j in
    * [0.7, 1) was banding-missed, flipping one document's keep set. The
    * dumped-band oracle replays the graph the engine ACTUALLY built, so
    * it is scale-factor-robust; banding recall stays a spec/gauge
    * question — MinHashRecallSpec, q144 — not an oracle assumption.)
    */
  private val q107Dir: String = WarmStores.dumpDir("q107")

  /** The minhash signature of a text column on the shared constants —
    * the one signature expression of every document-grain minhash path
    * (whole-corpus, persisted, incremental batch, streaming guard).
    */
  private[graft] def minhashSig(text: Column): Column =
    HashExpressions.shingleMinHash(Text.tokens(text), k = ShingleK, numPerm = NumPerm)

  /** The one band builder: `rows` with the signature `sig` exploded into
    * (band, bhash) rows on the shared (NumBands, RowsPerBand), each band
    * row carrying `keep` (named columns, referenced by name after the
    * explode). Every banded minhash path goes through here, so the band
    * values are bit-identical across whole-corpus, persisted, batch and
    * streaming forms; callers choose only whether the signature is a
    * projected column (`col("sig")`, the q33 shape: projected once, then
    * exploded) or computed inside the explode.
    */
  private[graft] def bandRows(rows: DataFrame, sig: Column, keep: Column*): DataFrame = {
    val exploded = rows.select(keep :+ explode(
      Text.lshBands(sig, numBands = NumBands, rowsPerBand = RowsPerBand)).as("b"): _*)
    exploded.select(exploded.columns.filter(_ != "b").map(col) ++
      Seq(col("b.band").as("band"), col("b.bhash").as("bhash")): _*)
  }

  /** The (doc_id, band, bhash) LSH band table — the persisted-index form
    * of the banding every minhash path shares ([[bandRows]] over
    * [[minhashSig]]).
    */
  def minhashBands(docs: DataFrame): DataFrame =
    bandRows(docs, minhashSig(col("text")), col("doc_id"))

  /** THE banded-jaccard body behind every text minhash tier (whole
    * corpus, batch, stored index, survivors, paragraph chunks): band rows
    * (doc_id, band, bhash) of `x` and `y` meet on (band, bhash) — under
    * `ids` on (x.doc_id, y.doc_id) when given (`<` for a self-join's
    * unordered pairs) — the distinct (a, b) candidates then verify by
    * exact shingle-set jaccard against the (doc_id, sh) frames `shX`
    * (a's side) and `shY` (b's side), keeping jaccard >= `threshold`.
    * `hinted` marks the batch-sized inputs of a store probe (`y`, the
    * candidates, `shY`) for broadcast, so the `x`-side stores stream;
    * the default leaves every join to the planner.
    */
  private[graft] def bandedJaccard(
      x: DataFrame,
      y: DataFrame,
      shX: DataFrame,
      shY: DataFrame,
      threshold: Double,
      ids: Option[(Column, Column) => Column] = Some(_ < _),
      hinted: DataFrame => DataFrame = identity): DataFrame = {
    val onBand = col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash")
    val candidates = x.as("x")
      .join(hinted(y.as("y")),
        ids.fold(onBand)(p => onBand && p(col("x.doc_id"), col("y.doc_id"))))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    hinted(candidates)
      .join(shX.select(col("doc_id").as("a"), col("sh").as("sh_a")), "a")
      .join(hinted(shY.select(col("doc_id").as("b"), col("sh").as("sh_b"))), "b")
      .select(col("a"), col("b"),
        HashExpressions.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate near-dup pairs via MinHash LSH (numPerm=32, 8 bands × 4 rows),
    * verified with exact shingle-set Jaccard >= `threshold`. The signature
    * is projected exactly once before the explode — the q33 plan shape.
    *
    * `maxBucketSize` is the DEGENERATE-BUCKET guard for web-scale corpora:
    * a boilerplate fragment shared by millions of documents piles them all
    * into one (band, bhash) bucket, and within-bucket candidate generation
    * is QUADRATIC — the one place this otherwise-linear plan can blow up
    * at 100 TB. Capping drops buckets with more than `maxBucketSize`
    * members before the self-join (the standard production mitigation —
    * such buckets are boilerplate collisions, and a true near-dup pair
    * landing ONLY in an over-cap bucket still has the other 7 bands to be
    * found through). The size count is a window over the join's own
    * (band, bhash) hash partitioning, so the guard adds no exchange —
    * DedupIndexSpec proves cap-above-max is a no-op and a planted boilerplate
    * bucket is dropped. Default = no cap: the registered q33/q66/q97
    * oracle paths keep exact banded semantics and their plan shape.
    */
  def minhashPairs(
      docs: DataFrame,
      threshold: Double,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val sh = shingled(docs)
    val allBands = bandRows(
      docs.select(col("doc_id"), minhashSig(col("text")).as("sig")), col("sig"), col("doc_id"))
    val bands =
      if (maxBucketSize == Int.MaxValue) allBands
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bhash")
        allBands
          .withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize)
          .drop("__bsz")
      }
    bandedJaccard(bands, bands, sh, sh, threshold)
  }

  /** The 100 TB form of q65's cross-source overlap matrix: identical plan
    * shape (per-source distinct shingles → self equi-join on the shingle →
    * source×source count) but the join/shuffle key is the 8-byte XXH64
    * shingle hash ([[graft.functions.HashExpressions.shingleHashSet]])
    * instead of the k-word string — the distinct and the self-join move
    * fixed-width longs instead of arbitrary-length text, the same
    * payload-size win [[graft.queries.Curation.hashedDecontam]] buys q59.
    * DedupSpec cross-checks it row-identical to the oracle-checked string
    * form (q65) on both testdata corpora; q65 keeps the string form
    * registered because DuckDB can only oracle what it can recompute.
    */
  def hashedOverlap(docs: DataFrame, k: Int = 3): DataFrame = {
    // shingleHashSet already returns the per-doc DISTINCT set; the distinct
    // here dedups across docs of the same source
    val g = docs.select(
      col("source"),
      explode(graft.functions.HashExpressions
        .shingleHashSet(split(col("text"), " ", -1), k)).as("g"))
      .distinct()
    g.as("a")
      .join(g.as("b"), col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** q75's 100 TB twin: identical duplicated-span statistics over 8-byte
    * XXH64 window hashes instead of k-word strings (the q65→hashedOverlap
    * move). Two structural wins at scale: the shuffle keys are fixed-width
    * longs, and the per-doc DISTINCT is free — `shingleHashSet` emits each
    * doc's distinct window set directly, so the string form's explicit
    * distinct exchange disappears (its job is done inside the codegen
    * kernel) and the doc-frequency aggregate's exchange is the plan's one
    * corpus-sized shuffle, reused by the join. DedupIndexSpec pins this
    * row-identical to the oracle-checked q75 on both testdata corpora.
    */
  def hashedDupSpans(docs: DataFrame, k: Int = 5): DataFrame = {
    val g = docs.select(
      col("doc_id"),
      explode(graft.functions.HashExpressions
        .shingleHashSet(split(col("text"), " ", -1), k)).as("g"))
    val d = g.groupBy("g").agg(count(lit(1)).as("nd"))
    g.join(d, "g")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_win"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_win"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_win")).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Substring-level dedup REMOVAL — the Lee-et-al-style "deduplicate
    * training data" transform that q75 only measures: rewrite each document
    * by excising maximal token runs (>= `minSpan` tokens) that are covered
    * by word-`k`-gram windows occurring in >= 2 DISTINCT documents.
    * Within-doc-only repeats are NOT excised (q85 handles adjacent repeats);
    * docs shorter than `k` tokens are never rewritten.
    *
    * Output per doc: `n_spans_removed`, `n_tokens_removed`, and the
    * rewritten `clean_text` (uncovered + short-run tokens, space-joined).
    *
    * Plan shape (one corpus-sized shuffle + one doc-keyed shuffle):
    *   1. positional window table (doc_id, pos, g) via posexplode — narrow;
    *   2. distinct (doc_id, g) → per-window doc-frequency aggregate — THE
    *      corpus-sized exchange (same as q75's);
    *   3. equi-join positions to the shared-window set on g, then a per-doc
    *      collect of the (int) start positions — only ints shuffle here;
    *   4. left-join the per-doc position arrays back onto documents and do
    *      ALL span geometry (coverage, run-length, excision) row-locally in
    *      higher-order functions — no further exchange.
    * At 100 TB the window keys should be 8-byte hashes (the q67/q81 twin
    * move — a positional variant of `shingleHashSet`); the string form is
    * registered so DuckDB can replay the identical geometry for the oracle.
    */
  def dedupSpanRewrite(docs: DataFrame, k: Int = 5, minSpan: Int = 10): DataFrame = {
    val t = docs.select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
    // (doc_id, pos, g): window g starts at 0-based token index pos
    val wp = t
      .select(col("doc_id"),
        posexplode(when(size(col("toks")) >= k,
          transform(sequence(lit(0), size(col("toks")) - k),
            i => array_join(slice(col("toks"), i + 1, lit(k)), " ")))
          .otherwise(array())))
      .toDF("doc_id", "pos", "g")
    val shared = wp.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val st = wp.join(shared, "g")
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("st"))
    val covered = t.join(st, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("st"), array().cast("array<int>")).as("st"))
      .withColumn("n", size(col("toks")))
      .withColumn("idx", sequence(lit(0), col("n") - 1))
      // cov(j): token j lies under some shared window [s, s+k-1]
      .withColumn("cov",
        transform(col("idx"), j => exists(col("st"), s => s <= j && j <= s + (k - 1))))
    val spans = covered
      .withColumn("starts",
        filter(col("idx"), j =>
          element_at(col("cov"), j + 1) && (j === 0 || !element_at(col("cov"), j))))
      .withColumn("ends",
        filter(col("idx"), j =>
          element_at(col("cov"), j + 1) &&
            (j === col("n") - 1 || !element_at(col("cov"), j + 2))))
      // maximal covered runs as (s, e); excise only runs >= minSpan tokens
      .withColumn("qual",
        filter(zip_with(col("starts"), col("ends"),
            (a, b) => struct(a.as("s"), b.as("e"))),
          p => p.getField("e") - p.getField("s") + 1 >= minSpan))
    spans
      .withColumn("keep",
        filter(zip_with(col("toks"), col("idx"),
            (tk, j) => when(exists(col("qual"),
              p => p.getField("s") <= j && j <= p.getField("e")), lit(null))
              .otherwise(tk)),
          x => x.isNotNull))
      .select(col("doc_id"),
        size(col("qual")).cast("long").as("n_spans_removed"),
        (col("n") - size(col("keep"))).cast("long").as("n_tokens_removed"),
        array_join(col("keep"), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** (doc_id, sim) 64-bit simhash rows — q34's dumpable kernel output
    * (everything downstream of these rows is ANSI-replayable).
    */
  def simhashRows(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      HashExpressions.simHash64(Text.tokens(col("text"))).as("sim"))

  /** SimHash near-dup pairs: 4×16-bit band blocking on the 64-bit simhash,
    * verified by Hamming distance <= `maxHamming`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsOver(simhashRows(docs), maxHamming)

  /** Banding + band equi-join + hamming verify over precomputed
    * (doc_id, sim) rows — the readback half of q34's dump-readback oracle
    * (and the shared tail of [[simhashPairs]]): the media tier's 64-bit
    * fingerprint join ([[graft.multimodal.Multimodal.bandedHammingPairs]])
    * with the simhash as the fingerprint.
    */
  def simhashPairsOver(sh: DataFrame, maxHamming: Int): DataFrame =
    graft.multimodal.Multimodal.bandedHammingPairs(
      sh.select(col("doc_id"), col("sim").as("dh")), maxHamming)

  /** q65's oracle, shared with its hashed twin q67: the twin's output is
    * row-identical (DedupIndexSpec pins it on both testdata corpora), so the
    * same ANSI statement oracles both — DuckDB never needs to reproduce the
    * XXH64 keys, only the final matrix.
    */
  private val overlapOracleSql =
    """WITH s AS (
      |  SELECT source,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                             i -> array_to_string(toks[i:i+2], ' ')) END AS sh
      |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)),
      |g AS (SELECT DISTINCT source, unnest(sh) AS g FROM s)
      |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      |GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin

  /** q75's oracle, shared with its hashed twin q81 (same contract as
    * [[overlapOracleSql]]).
    */
  private val dupSpansOracleSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id,
      |        CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |             ELSE list_transform(range(1, len(toks) - 3),
      |                                 i -> array_to_string(toks[i:i+4], ' ')) END AS sh
      |      FROM t),
      |g AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
      |d AS (SELECT g, COUNT(*) AS nd FROM g GROUP BY g)
      |SELECT g.doc_id,
      |  COUNT(*) AS n_win,
      |  CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
      |FROM g JOIN d USING (g) GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  /** Shared WITH-clause prefix of the q55/q91 oracles: the exact
    * cosine>=0.4 pair graph expanded to per-node component minima via a
    * recursive CTE. Extracted so the two oracles can never disagree on
    * what a component is. (Declared before [[all]] — object vals
    * initialize in declaration order.)
    */
  private val ComponentCteSql =
    """WITH RECURSIVE
      |pairs AS (
      |  SELECT a.vec_id AS u, b.vec_id AS v
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |mins AS (SELECT u AS vec_id, MIN(v) AS mn FROM reach GROUP BY u)""".stripMargin

  /** Shared oracle prefix: the exact word-3-shingle jaccard pair graph
    * over `documents` (u < v, jaccard value `j` included). On the testdata
    * this EQUALS the banded minhash graph (recall 1.0 — see the q97
    * registration comment), so it oracles q33's pair set, q66's
    * batch-restricted pair set, AND seeds q97's component replay — one
    * definition, four hash checks that cannot drift apart.
    */
  /** The exact-pair CTE chain parameterized by a corpus predicate, so the
    * full-corpus oracles and the hash-gated SAMPLED tier (q180) replay the
    * IDENTICAL pair definition — one template, twins cannot drift.
    */
  private def exactPairCte(pred: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |       WHERE $pred),
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
      |pj AS (
      |  SELECT u, v, CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) AS j
      |  FROM inter
      |  JOIN sz na ON na.doc_id = u JOIN sz nb ON nb.doc_id = v)""".stripMargin

  private[queries] val ExactPairPrefixSql = exactPairCte("TRUE")

  /** The deterministic keep-hash gate in DuckDB form — the q93/q139 house
    * sampling convention, bit-identical to the engine's
    * `pmod(pmod(doc_id, 2147483647) * 2654435761, 10000)` on positive ids
    * (products stay under 2^63).
    */
  private def sampleGateSql(bp: Long): String =
    s"((doc_id % 2147483647) * 2654435761) % 10000 < $bp"

  /** q174's threshold-sweep oracle over [[exactPairCte]] with a corpus
    * predicate — shared verbatim by the full-corpus registration and the
    * hash-gated production form (q180).
    */
  private def thresholdSweepOracleSql(pred: String): String =
    s"""WITH ${exactPairCte(pred)},
      |tp AS (
      |  SELECT u, v, ninter, na.n + nb.n - ninter AS nunion
      |  FROM inter
      |  JOIN sz na ON na.doc_id = u JOIN sz nb ON nb.doc_id = v
      |  WHERE ninter * 10000 >= 7000 * (na.n + nb.n - ninter)),
      |grid AS (SELECT UNNEST([7000, 7500, 8000, 8500, 9000]) AS thr_bp),
      |pass AS (
      |  SELECT g.thr_bp, tp.u, tp.v FROM grid g
      |  JOIN tp ON tp.ninter * 10000 >= g.thr_bp * tp.nunion)
      |SELECT g.thr_bp,
      |  CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(COALESCE(d.n_docs, 0) AS BIGINT) AS n_docs_affected
      |FROM grid g
      |LEFT JOIN (SELECT thr_bp, COUNT(*) AS n_pairs
      |           FROM pass GROUP BY thr_bp) p USING (thr_bp)
      |LEFT JOIN (SELECT thr_bp, COUNT(DISTINCT d) AS n_docs FROM
      |             (SELECT thr_bp, u AS d FROM pass
      |              UNION ALL SELECT thr_bp, v FROM pass)
      |           GROUP BY thr_bp) d USING (thr_bp)
      |ORDER BY g.thr_bp""".stripMargin

  /** q33's oracle: the exact pair set with its jaccard (one integer
    * division — bit-identical cross-engine).
    */
  private val minhashPairsOracleSql =
    s"""WITH $ExactPairPrefixSql
      |SELECT u AS a, v AS b, j AS jaccard FROM pj
      |WHERE j >= 0.7 ORDER BY a, b""".stripMargin

  /** The q97 component-assignment replay through `comp` (cluster_id,
    * doc_id), WITHOUT a leading WITH: callers prepend `WITH RECURSIVE` and
    * append their own SELECT. Shared beyond this file (q116's leakage-safe
    * split oracle in Training) so every consumer replays the IDENTICAL
    * cluster definition — one pair graph, one reachability, one min-id
    * rule; checks cannot drift apart.
    */
  private[queries] val ComponentAssignmentCteSql =
    s"""$ExactPairPrefixSql,
      |pairs AS (SELECT u, v FROM pj WHERE j >= 0.7),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |mins AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
      |comp AS (
      |  SELECT LEAST(COALESCE(m.mn, d.doc_id), d.doc_id) AS cluster_id,
      |         d.doc_id
      |  FROM documents d LEFT JOIN mins m ON m.doc_id = d.doc_id)""".stripMargin

  /** The production cluster assignment (q97's chain minus the ranking):
    * banded minhash pairs → connected components over ALL doc ids
    * (singletons keep themselves). Spark-side twin of
    * [[ComponentAssignmentCteSql]]; shared with Training's q116.
    */
  private[queries] def componentAssignment(
      docs: DataFrame, threshold: Double = 0.7): DataFrame =
    graft.operators.ConnectedComponents.run(
      docs.select(col("doc_id").as("id")),
      minhashPairs(docs, threshold)
        .select(col("a").as("src"), col("b").as("dst")))
      .select(col("component").as("cluster_id"), col("id").as("doc_id"))

  /** q122: the TIERED production dedup disposition — the layering the q113
    * docs describe, registered as one manifest: (1) the exact-fingerprint
    * tier collapses byte-identical reposts to their first occurrence (one
    * hash aggregate + join — most ingest duplicates die here for cents);
    * (2) ONLY the exact representatives enter the minhash near-dup tier
    * (q97's chain + the shared [[rankRepresentatives]] rule), so the
    * banding corpus shrinks by the exact-dup mass before the expensive
    * stage runs. Every doc gets its FINAL canonical: exact dups resolve
    * through their representative's near-dup cluster keeper, so a
    * downstream rewrite needs exactly one id column. Scale shape: the
    * exact tier is one fingerprint aggregate; the near tier is q97's
    * (banded equi-joins, CC id shuffles, one ranking window) over the
    * smaller rep set; the disposition joins are id-keyed hash joins.
    */
  def dedupTiers(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val fp = docs.select(col("doc_id"), Text.fingerprint(col("text")).as("f"))
    // snap the exact-tier map once (the incrementalRelease lever,
    // Release.scala): withRep feeds the rep-id filter, the near tier's
    // node/edge actions AND the final disposition join — without the snap
    // every one of those actions re-ran the fingerprint aggregate + join
    // (measured ~0.2 s per extra execution at sf0.1, 3-4 executions).
    // the snap installs the MEASURED size, so the rep-id side of the
    // `reps` join below broadcast-plans exactly when it truly fits —
    // which also keeps `reps` on the docs scan's partitioning instead of
    // an AQE-coalesced post-shuffle layout (the minhash kernels above it
    // then run corpus-wide parallel, not on one starved task).
    val withRep = org.apache.spark.sql.graft.shims.snap(fp.join(
      fp.groupBy("f").agg(min("doc_id").as("rep")), "f")
      .select(col("doc_id"), col("rep")), "dedup.exactReps")
    val reps = docs.join(
      withRep.filter(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
    val ranked = rankRepresentatives(
      graft.operators.ConnectedComponents.run(
        reps.select(col("doc_id").as("id")),
        minhashPairs(reps, threshold)
          .select(col("a").as("src"), col("b").as("dst")))
        .select(col("component").as("cluster_id"), col("id").as("doc_id")),
      docs)
    val keeper = ranked.filter(col("keep") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical"))
    val repDisp = ranked
      .select(col("doc_id").as("rep"), col("cluster_id"), col("keep"))
      .join(keeper, "cluster_id")
      .select(col("rep"), col("keep"), col("canonical"))
    withRep.join(repDisp, "rep")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("rep"), "exact_dup")
          .when(col("keep") === 0, "near_dup")
          .otherwise("keep").as("tier"),
        col("canonical"))
      .orderBy("doc_id")
  }

  /** q97's oracle: the exact-jaccard replay of the minhash graph (equal on
    * the testdata — see the q97 registration comment), composed from the
    * q55-style recursive-CTE component replay and the q91 ranking replay.
    */
  private[queries] val manifestOracleSql =
    s"""WITH RECURSIVE
      |$ExactPairPrefixSql,
      |pairs AS (SELECT u, v FROM pj WHERE j >= 0.7),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |mins AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
      |comp AS (
      |  SELECT LEAST(COALESCE(m.mn, d.doc_id), d.doc_id) AS cluster_id,
      |         d.doc_id
      |  FROM documents d LEFT JOIN mins m ON m.doc_id = d.doc_id)
      |SELECT cluster_id, doc_id, n_chars,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
      |         ORDER BY n_chars DESC, doc_id) = 1 AS INTEGER) AS keep
      |FROM comp JOIN documents USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** The q97 replay re-shaped as a reusable CTE chain ending in
    * `keepers(doc_id)` — the keep=1 set of [[dedupManifest]]. Callers
    * prepend `WITH RECURSIVE ` and append their own CTEs/SELECT; q164's
    * release-manifest oracle composes its pack/shard arms onto it so the
    * dedup stage of the composed chain cannot drift from q97's oracle.
    */
  private[queries] val KeeperCteSql: String = keeperCte("", _ => "TRUE")

  /** The keeper chain TEMPLATED over a CTE-name tag and a corpus
    * predicate (`pred` receives the table-alias prefix to qualify
    * `doc_id` where needed), so one WITH RECURSIVE can instantiate the
    * q97 replay over several corpora — q169's incremental-release oracle
    * runs it over the store corpus AND the full corpus side by side.
    */
  private[queries] def keeperCte(tag: String, pred: String => String): String =
    s"""t$tag AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE ${pred("")}),
      |s$tag AS (SELECT doc_id,
      |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |             ELSE list_transform(range(1, len(toks) - 1),
      |                                 i -> array_to_string(toks[i:i+2], ' ')) END AS sh
      |      FROM t$tag),
      |g$tag AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s$tag),
      |sz$tag AS (SELECT doc_id, COUNT(*) AS n FROM g$tag GROUP BY doc_id),
      |inter$tag AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS ninter
      |  FROM g$tag a JOIN g$tag b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY u, v),
      |pj$tag AS (
      |  SELECT u, v, CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) AS j
      |  FROM inter$tag
      |  JOIN sz$tag na ON na.doc_id = u JOIN sz$tag nb ON nb.doc_id = v),
      |pairs$tag AS (SELECT u, v FROM pj$tag WHERE j >= 0.7),
      |edges$tag AS (SELECT u, v FROM pairs$tag UNION SELECT v, u FROM pairs$tag),
      |reach$tag(u, v) AS (
      |  SELECT u, v FROM edges$tag
      |  UNION
      |  SELECT r.u, e.v FROM reach$tag r JOIN edges$tag e ON r.v = e.u),
      |mins$tag AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach$tag GROUP BY u),
      |comp$tag AS (
      |  SELECT LEAST(COALESCE(m.mn, d.doc_id), d.doc_id) AS cluster_id,
      |         d.doc_id
      |  FROM documents d LEFT JOIN mins$tag m ON m.doc_id = d.doc_id
      |  WHERE ${pred("d.")}),
      |rk$tag AS (
      |  SELECT cluster_id, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM comp$tag JOIN documents USING (doc_id)),
      |keepers$tag AS (SELECT doc_id FROM rk$tag WHERE rk = 1)""".stripMargin

  /** q107's oracle: the paragraph-granularity replay — chunking, the
    * exact-jaccard verify, the recursive-CTE component mins, keep =
    * component min, and the reassembly are all re-derived from
    * `documents` in ANSI SQL; ONLY the candidate graph comes from the
    * dumped chunk band table (round 14 — see the q107Dir comment: the
    * old "banded graph ≡ exact graph at chunk grain" assumption failed
    * at sf0.1 on a banding-missed short-chunk pair with true j in
    * [0.7, 1); replaying the DUMPED bands makes the oracle
    * scale-factor-robust while keeping every arithmetic stage
    * driver-checked).
    */
  private def paragraphOracleSql =
    s"""WITH RECURSIVE
      |bd AS (SELECT ck, band, bhash
      |  FROM read_parquet('$q107Dir/bands.parquet/*.parquet')),
      |cand AS (SELECT DISTINCT x.ck AS u, y.ck AS v FROM bd x JOIN bd y
      |         ON x.band = y.band AND x.bhash = y.bhash AND x.ck < y.ck),
      |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ch AS (
      |  SELECT doc_id, u.i AS chunk_idx,
      |         array_to_string(toks[u.i*32+1 : u.i*32+32], ' ') AS ptext
      |  FROM t, LATERAL (SELECT unnest(range(0, (len(toks) - 1) // 32 + 1)) AS i) u),
      |k AS (SELECT doc_id * 4194304 + chunk_idx AS ck, doc_id, chunk_idx, ptext FROM ch),
      |ks AS (SELECT ck, string_split(ptext, ' ') AS toks FROM k),
      |s AS (SELECT ck,
      |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |             ELSE list_transform(range(1, len(toks) - 1),
      |                                 i -> array_to_string(toks[i:i+2], ' ')) END AS sh
      |      FROM ks),
      |g AS (SELECT DISTINCT ck, unnest(sh) AS g FROM s),
      |sz AS (SELECT ck, COUNT(*) AS n FROM g GROUP BY ck),
      |inter AS (
      |  SELECT c.u, c.v, COUNT(*) AS ninter
      |  FROM cand c JOIN g a ON a.ck = c.u JOIN g b ON b.ck = c.v AND b.g = a.g
      |  GROUP BY c.u, c.v),
      |pairs AS (
      |  SELECT u, v FROM inter
      |  JOIN sz na ON na.ck = u JOIN sz nb ON nb.ck = v
      |  WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.7),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |mins AS (SELECT u AS ck, MIN(v) AS mn FROM reach GROUP BY u),
      |kept AS (
      |  SELECT k.doc_id, k.chunk_idx, k.ptext,
      |    CASE WHEN LEAST(COALESCE(m.mn, k.ck), k.ck) = k.ck THEN 1 ELSE 0 END AS keep
      |  FROM k LEFT JOIN mins m ON m.ck = k.ck)
      |SELECT doc_id,
      |  COUNT(*) AS n_par,
      |  CAST(SUM(1 - keep) AS BIGINT) AS n_dropped,
      |  COALESCE(string_agg(CASE WHEN keep = 1 THEN ptext END, ' '
      |    ORDER BY chunk_idx), '') AS text_clean
      |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q134: NORMALIZATION-INVARIANT dedup — the tier between q32's
    * byte-ish dedup (lower+trim only) and minhash: documents are grouped
    * by the fingerprint of their FULLY NORMALIZED text (the oracled q54
    * pass: lowercase, email/URL masking, whitespace collapse, trim).
    * Masking is the interesting part: two mirror pages differing only in
    * the webmaster's email address or tracking URLs dedup together here
    * — a variant class byte-exact misses entirely and minhash resolves
    * only at ~100× the cost. Output is the per-doc disposition for
    * multi-variant groups: (doc_id, canonical_id = group min,
    * n_variants).
    *
    * Plan shape: fingerprints are computed MAP-SIDE (one codegen regexp
    * chain + md5 over the scan), so the only exchange carries (doc_id,
    * 32-char fp) keyed by the fingerprint; the group window partitions
    * by fp — tiny groups, no skew hazard. The q32 shape with a richer
    * kernel.
    */
  def normalizedDedup(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("nfp")
    docs.select(col("doc_id"),
        md5(graft.functions.Text.cleanText(col("text"))).as("nfp"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("n_variants", count(lit(1)).over(w))
      .filter(col("n_variants") > 1)
      .select(col("doc_id"), col("canonical_id"), col("n_variants"))
      .orderBy("doc_id")
  }

  val all: Map[String, Q] = Map(
    "q32_dedup_exact" -> Q(
      "Exact dedup: group by normalized-content hash, keep min doc_id",
      """SELECT MD5(LOWER(TRIM(text))) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY MD5(LOWER(TRIM(text))) ORDER BY fp""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(Text.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("fp")
    },

    // NORMALIZATION-INVARIANT dedup (see [[normalizedDedup]]): the q54
    // normalization as a dedup kernel — mirror pages differing only in
    // masked emails/URLs or whitespace/case collapse into one group.
    // The corpus carries no such variants (q32 finds zero exact groups),
    // so the registered form derives them DETERMINISTICALLY (the q132
    // snapshot-construction precedent): %6 docs get an uppercased
    // double-spaced clone (case/whitespace invariance), %9 docs get TWO
    // clones differing only in an appended contact email (mask
    // invariance — the pair groups together, and with neither original
    // nor each other's address). The oracle replays the identical
    // construction + the q54 regexp chain inside the fingerprint.
    "q134_normalized_dedup" -> Q(
      "Normalization-invariant dedup: groups keyed by md5 of the q54 " +
        "cleaned text, per-doc canonical + variant count for groups > 1",
      s"""WITH v AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, regexp_replace(upper(text), ' ', '  ', 'g')
         |  FROM documents WHERE doc_id % 6 = 0
         |  UNION ALL
         |  SELECT doc_id + 3000000, text || ' contact alice@variants.example.com'
         |  FROM documents WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000, text || ' contact bob@mirrors.example.org'
         |  FROM documents WHERE doc_id % 9 = 0),
         |f AS (SELECT doc_id,
         |  md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
         |    '${Text.EmailPattern}', '<email>', 'g'),
         |    '${Text.UrlPattern}', '<url>', 'g'),
         |    '[ \\t\\n\\r]+', ' ', 'g'))) AS nfp
         |  FROM v),
         |g AS (SELECT doc_id,
         |        MIN(doc_id) OVER (PARTITION BY nfp) AS canonical_id,
         |        COUNT(*) OVER (PARTITION BY nfp) AS n_variants
         |      FROM f)
         |SELECT doc_id, canonical_id, CAST(n_variants AS BIGINT) AS n_variants
         |FROM g WHERE n_variants > 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val caseVariant = base.filter(pmod(col("doc_id"), lit(6)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          regexp_replace(upper(col("text")), " ", "  ").as("text"))
      val emailA = base.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" contact alice@variants.example.com")).as("text"))
      val emailB = base.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat(col("text"), lit(" contact bob@mirrors.example.org")).as("text"))
      normalizedDedup(
        base.unionByName(caseVariant).unionByName(emailA).unionByName(emailB))
    },

    // Oracled via the exact-jaccard pair graph (recall-1.0 equality on the
    // testdata, the q97 argument): every kept pair is jaccard-VERIFIED, so
    // the banded set ⊆ exact, and the deterministic 8×4 banding catches
    // every j>=0.9 true pair (miss probability < 2e-4 each). The jaccard
    // VALUE hash-checks too — one integer division both engines compute
    // bit-identically (hashed shingle sets are collision-free at corpus
    // scale, ExpressionsSpec cross-checks them against string sets).
    "q33_dedup_minhash" -> Q(
      "MinHash+LSH near-dup pairs (32 perms, 8×4 bands), jaccard-verified >= 0.7",
      minhashPairsOracleSql) {
      (s, dir) =>
        minhashPairs(Tables(s, dir, "documents"), threshold = 0.7)
          .orderBy("a", "b")
    },

    // ORACLED since round 14 (dump-readback — the q185 template at
    // document grain): the (doc_id, sim) hash rows dump pid-scoped, the
    // engine bands + verifies over the READBACK, and DuckDB replays the
    // banding ((sim >> 16*band) & 65535 — `>>` is arithmetic on BIGINT in
    // both engines and the mask erases sign-extension anyway), the band
    // equi-join, and the bit_count(xor()) hamming verify over the same
    // rows. Only the simhash64 kernel itself (xxhash64 token bit votes)
    // stays spec-closed (HashExpressionsSpec pins it against the HOF
    // form).
    "q34_dedup_simhash" -> Q(
      "SimHash near-dup pairs (64-bit, 4×16 bands), hamming-verified <= 8",
      s"""WITH h AS (SELECT doc_id, sim
        |  FROM read_parquet('$q34Dir/hashes.parquet/*.parquet')),
        |bd AS (SELECT doc_id, sim, band, (sim >> (16 * band)) & 65535 AS bhash
        |       FROM h CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS band) bands)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.sim, y.sim)) AS INTEGER) AS hamming
        |FROM bd x JOIN bd y
        |  ON x.band = y.band AND x.bhash = y.bhash AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sim, y.sim)) <= 8
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      Dedup.synchronized {
        StoreSwap.write(simhashRows(Tables(s, dir, "documents")), s"$q34Dir/hashes.parquet")
      }
      simhashPairsOver(s.read.parquet(s"$q34Dir/hashes.parquet"), maxHamming = 8)
        .orderBy("a", "b")
    },

    // BANDED-tier skew gauge ([[bandSkewAudit]]): per-band bucket-size
    // shape — candidate mass Σ C(size,2), largest bucket and its share —
    // the hot-key predictor for the LSH join's (band, bhash) shuffle.
    // ORACLED at the counts level (the r12 verdict's "gauge your gauges"):
    // bucket identities still live on the engine's minhash kernel (DuckDB
    // cannot replay ShingleK/NumPerm/banding), but the band table is
    // DUMPED pid-scoped (the q46 artifact-readback move) and BOTH engines
    // aggregate the same rows — every downstream count (bucket sizes,
    // candidate mass, max share) is hash-checked. The kernel itself stays
    // pinned where it can be: MinHashRecallSpec's planted identical-doc
    // family and q33's output-equality oracle. The dump is the gauge's
    // production shape anyway — a persisted band store whose skew is read
    // off the index rows, not re-minhashed.
    "q183_band_skew" -> Q(
      "LSH band-bucket skew gauge: per-band candidate mass, largest " +
        "bucket and share — the banded join's hot-key predictor",
      """SELECT band, n_buckets, n_rows, max_bucket,
        |  max_bucket * 10000 // n_rows AS max_share_bp, cand_pairs
        |FROM (
        |  SELECT band,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(SUM(sz) AS BIGINT) AS n_rows,
        |    CAST(MAX(sz) AS BIGINT) AS max_bucket,
        |    CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
        |  FROM (SELECT band, bhash, COUNT(*) AS sz
        |        FROM read_parquet('$q183Dir/bands.parquet/*.parquet')
        |        GROUP BY band, bhash) b
        |  GROUP BY band) a
        |ORDER BY band""".stripMargin.replace("$q183Dir", q183Dir)) { (s, dir) =>
      val dump = s"$q183Dir/bands.parquet"
      Dedup.synchronized {
        StoreSwap.write(minhashBands(Tables(s, dir, "documents")), dump)
      }
      bandSkewOf(s.read.parquet(dump))
    },

    // sampleBp RECOMMENDER ([[sampleBpRecommender]]): gauge → knob. For
    // each candidate pair budget, the largest hash gate keeping the
    // expected sampled raw mass inside it (both-endpoint thinning is
    // quadratic: bp* = floor(sqrt(budget·10⁸ DIV n_raw)), one IEEE sqrt of
    // an exact integer — correctly rounded, bit-identical cross-engine).
    // Oracle: the same arithmetic off the string-gram df table (the
    // unreferenced pair CTEs in the shared template are never planned).
    "q184_samplebp_recommender" -> Q(
      "sampleBp recommender: largest hash gate per candidate pair budget " +
        "(quadratic thinning), from the q178 df pass",
      s"""WITH ${exactPairCte("TRUE")},
        |dfr AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
        |nr AS (SELECT SUM(df * (df - 1) // 2) AS n_raw_pairs FROM dfr),
        |grid AS (SELECT UNNEST([10000, 100000, 1000000]) AS budget),
        |rec AS (
        |  SELECT budget, n_raw_pairs,
        |    LEAST(10000, CAST(FLOOR(SQRT(CAST(
        |      (CAST(budget AS BIGINT) * 100000000) // n_raw_pairs AS DOUBLE)))
        |      AS BIGINT)) AS rec_bp
        |  FROM grid, nr)
        |SELECT CAST(budget AS BIGINT) AS budget,
        |  CAST(n_raw_pairs AS BIGINT) AS n_raw_pairs,
        |  CAST(rec_bp AS BIGINT) AS rec_bp,
        |  CAST((n_raw_pairs * rec_bp * rec_bp) // 100000000 AS BIGINT)
        |    AS expected_pairs
        |FROM rec ORDER BY budget""".stripMargin) { (s, dir) =>
      sampleBpRecommender(Tables(s, dir, "documents"))
    },

    // STRING shingles here (not the hashed kernel q33 uses) so DuckDB can
    // compute the identical sets and hash-check the values; the hashed form
    // stays the scale path (8-byte hashes through the shuffle) and is
    // cross-checked against this one in ExpressionsSpec.
    // Cross-SOURCE duplication diagnostic — the curation question "which
    // strata are copying each other" (crawl snapshots, mirrored sites)
    // answered as a source×source matrix of shared distinct 3-gram
    // shingles. Scale shape: the distinct (source, shingle) table is the
    // corpus deduped per stratum; the self-join is an equi-join keyed on
    // the shingle whose per-key fan-out is bounded by sources² (strata
    // counts are small by definition), and the output is at most one row
    // per source pair. At 100 TB use [[hashedOverlap]] — the same plan over
    // 8-byte hashed shingle keys, spec-asserted row-identical to this form.
    "q65_source_overlap" -> Q(
      "Cross-source duplication matrix: shared distinct word-3-grams per source pair",
      overlapOracleSql) { (s, dir) =>
      val g = Tables(s, dir, "documents")
        .select(col("source"),
          explode(Text.shinglesSpaceSplit(col("text"), k = 3)).as("g"))
        .distinct()
      g.as("a")
        .join(g.as("b"), col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("source_a", "source_b")
    },

    // The registered, BENCHED form of [[hashedOverlap]] — the declared
    // 100 TB scale path for q65. DuckDB cannot recompute the XXH64 shingle
    // keys, but it doesn't have to: the twin's OUTPUT is row-identical to
    // the string form (DedupIndexSpec pins it on both testdata corpora), so
    // q65's oracle statement hash-checks this path's values too.
    // Registering it puts a timing, a plan hash, and a hard value oracle on
    // the path a petabyte deployment would actually run.
    "q67_overlap_hashed" -> Q(
      "Cross-source duplication matrix over 8-byte hashed shingle keys (q65's scale twin)",
      overlapOracleSql) {
      (s, dir) => hashedOverlap(Tables(s, dir, "documents"))
    },

    // Duplicated-SPAN statistics (the signal behind substring-level dedup,
    // e.g. "Deduplicating Training Data Makes Language Models Better"-style
    // span removal): for every doc, how many of its distinct word-5-gram
    // windows also occur in some OTHER doc (or elsewhere in itself — a
    // window is "shared" iff ≥2 docs contain it), and what fraction of the
    // doc that is. Plan: ONE distinct (doc, window) exchange, reused by
    // both sides — the per-window doc-frequency aggregate and the per-doc
    // rollup join back onto the SAME canonical subplan, so Spark computes
    // the corpus-sized shuffle once. At 100 TB the window keys should be
    // the 8-byte shingleHashSet hashes (the q67/q68 twin pattern); the
    // string form stays registered because DuckDB can recompute it.
    "q75_dup_spans" -> Q(
      "Per-doc duplicated-span stats: distinct word-5-gram windows shared with >=2 docs",
      dupSpansOracleSql) {
      (s, dir) =>
        val g = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(Text.shinglesSpaceSplit(col("text"), k = 5)).as("g"))
          .distinct()
        val d = g.groupBy("g").agg(count(lit(1)).as("nd"))
        g.join(d, "g")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_win"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_win"), col("n_shared"),
            (col("n_shared").cast("double") / col("n_win")).as("dup_frac"))
          .orderBy("doc_id")
    },

    // q75's scale twin, registered for a bench timing + plan hash. DuckDB
    // can't recompute XXH64 window keys, but the output is row-identical to
    // the string form (DedupIndexSpec), so q75's oracle hash-checks it.
    "q81_dup_spans_hashed" -> Q(
      "Per-doc duplicated-span stats over 8-byte hashed windows (q75's scale twin)",
      dupSpansOracleSql) {
      (s, dir) => hashedDupSpans(Tables(s, dir, "documents"))
    },

    // The REWRITE q75 only measures — see [[dedupSpanRewrite]]. The span
    // geometry (coverage from sorted window starts, run-length encoding via
    // start/end sentinels, excision of runs >= 10 tokens) is replayed
    // identically by the oracle's list lambdas, so the rewritten text
    // itself is value-checked, not just the counts. coalesce on the
    // oracle's clean_text: DuckDB array_to_string([]) is NULL where Spark
    // array_join is '' (a fully-excised doc must agree on "empty").
    "q86_dedup_span_rewrite" -> Q(
      "Cross-doc duplicated-span removal: excise shared word-5-gram runs >= 10 tokens",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (SELECT doc_id,
        |        list_transform(range(0, greatest(len(toks) - 4, 0)),
        |                       i -> array_to_string(toks[i+1:i+5], ' ')) AS ws
        |      FROM t),
        |p AS (SELECT doc_id, unnest(ws) AS g,
        |             generate_subscripts(ws, 1) - 1 AS pos
        |      FROM w),
        |d AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY g)
        |      WHERE nd >= 2),
        |s AS (SELECT p.doc_id, list_sort(list(p.pos)) AS st
        |      FROM p JOIN d ON p.g = d.g GROUP BY p.doc_id),
        |m AS (SELECT t.doc_id, t.toks, len(t.toks) AS n, coalesce(s.st, []) AS st
        |      FROM t LEFT JOIN s USING (doc_id)),
        |c AS (SELECT doc_id, toks, n,
        |        list_transform(range(0, n),
        |          j -> len(list_filter(st, x -> x <= j AND j <= x + 4)) > 0) AS cov
        |      FROM m),
        |e AS (SELECT doc_id, toks, n,
        |        list_filter(list_zip(
        |            list_filter(range(0, n), j -> cov[j+1] AND (j = 0 OR NOT cov[j])),
        |            list_filter(range(0, n), j -> cov[j+1] AND (j = n-1 OR NOT cov[j+2]))),
        |          q -> q[2] - q[1] + 1 >= 10) AS qual
        |      FROM c),
        |r AS (SELECT doc_id, qual, n,
        |        list_filter(list_transform(range(0, n),
        |            j -> CASE WHEN len(list_filter(qual, q -> q[1] <= j AND j <= q[2])) > 0
        |                      THEN NULL ELSE toks[j+1] END),
        |          x -> x IS NOT NULL) AS keep
        |      FROM e)
        |SELECT doc_id,
        |  CAST(len(qual) AS BIGINT) AS n_spans_removed,
        |  CAST(n - len(keep) AS BIGINT) AS n_tokens_removed,
        |  coalesce(array_to_string(keep, ' '), '') AS clean_text
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      dedupSpanRewrite(Tables(s, dir, "documents"))
    },

    "q35_ngram_jaccard" -> Q(
      "Exact word-3-gram Jaccard between consecutive doc ids (linear self-join)",
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 1),
        |                             i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(len(list_intersect(list_distinct(x.sh), list_distinct(y.sh))) AS DOUBLE)
        |    / CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE) AS jaccard
        |FROM s x JOIN s y ON y.doc_id = x.doc_id + 1
        |ORDER BY a""".stripMargin) { (s, dir) =>
      val sh = Tables(s, dir, "documents").select(
        col("doc_id"), Text.shinglesSpaceSplit(col("text"), k = 3).as("sh"))
      sh.select(col("doc_id").as("a"), col("sh").as("sh_a"))
        .join(
          sh.select((col("doc_id") - 1).as("a"), col("doc_id").as("b"), col("sh").as("sh_b")),
          "a")
        .select(col("a"), col("b"),
          Text.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .orderBy("a")
    },

    // Pairs → CLUSTERS: training pipelines drop whole near-dup clusters
    // (keep one canonical doc per component), not pair lists. The pair set
    // here is q37's EXACT cosine>=0.4 join (recall 1 ⇒ both engines compute
    // the identical graph), so DuckDB can oracle the components with a
    // recursive CTE. Singletons keep themselves.
    // SCALE POLICY: like q37, this exact tier is an audit tool — at full
    // corpus scale it runs on an id-hash sample (PLANS.md § "Exact-tier
    // scale policy"); q71 (SemDeDup) is the registered sub-quadratic
    // production twin for embedding-space cluster dedup.
    "q55_dedup_clusters" -> Q(
      "Near-dup clusters: connected components over exact cosine>=0.4 pairs, keep = min id",
      s"""$ComponentCteSql
        |SELECT LEAST(COALESCE(m.mn, e.vec_id), e.vec_id) AS cluster_id,
        |       e.vec_id AS doc_id,
        |       CAST(LEAST(COALESCE(m.mn, e.vec_id), e.vec_id) = e.vec_id AS INTEGER) AS keep
        |FROM embeddings e LEFT JOIN mins m ON m.vec_id = e.vec_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val comps = exactCosineComponents(e)
      comps.select(
        col("component").as("cluster_id"),
        col("id").as("doc_id"),
        when(col("component") === col("id"), 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    },

    // q55 keeps the MINIMUM id per cluster — an arbitrary survivor. Real
    // curation keeps the BEST copy: trimmed near-dups of a long document
    // should lose to the full text, whatever their ids. q91 re-ranks each
    // q55 cluster by content quality (longest text wins, id breaks ties)
    // via one row_number window over the cluster assignment joined to the
    // doc metadata. The selection stage is LINEAR given any cluster
    // assignment — at 100 TB it runs unchanged over the sub-quadratic
    // q33/q71 assignments; the exact graph here is what lets DuckDB
    // replay the components for a hash-checked oracle (vec_id and doc_id
    // share the same id domain in the testdata contract, TESTDATA.md).
    "q91_cluster_rep" -> Q(
      "Canonical doc per near-dup cluster: q55's components re-ranked by " +
        "quality (longest n_chars, then min id) in one window pass",
      s"""$ComponentCteSql,
        |comp AS (
        |  SELECT LEAST(COALESCE(m.mn, e.vec_id), e.vec_id) AS cluster_id,
        |         e.vec_id AS doc_id
        |  FROM embeddings e LEFT JOIN mins m ON m.vec_id = e.vec_id)
        |SELECT cluster_id, doc_id, n_chars,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
        |         ORDER BY n_chars DESC, doc_id) = 1 AS INTEGER) AS keep
        |FROM comp JOIN documents USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      clusterRepresentatives(
        Tables(s, dir, "documents"), Tables(s, dir, "embeddings"))
    },

    // The end-to-end PRODUCTION near-dup removal chain (see dedupManifest):
    // banded minhash candidates → verified pairs → components → the SAME
    // ranking code as q91. The ORACLE replays it without minhash: every
    // kept pair is jaccard-VERIFIED >= 0.7 against the true shingle sets,
    // so the minhash graph ⊆ the exact-jaccard graph, and banding recall
    // is 1.0 on the testdata (MinHashRecallSpec pins it; the corpus' true
    // pairs are all j >= 0.9, where the 8×4 miss probability is < 2e-4
    // and the hashes are seed-deterministic) — so the two graphs are EQUAL
    // and DuckDB can rebuild the components from exact jaccard over string
    // 3-shingles (the q65/q75 twin pattern) + the q55 recursive CTE, then
    // apply q91's ranking. CurationGateSpec additionally pins the
    // contract structurally (pairs land in one cluster, one keep per
    // cluster, q91's ranking rule holds).
    "q97_dedup_manifest" -> Q(
      "Production dedup manifest: minhash graph -> components -> " +
        "quality-ranked representative per cluster (no quadratic stage)",
      manifestOracleSql) { (s, dir) =>
      dedupManifest(Tables(s, dir, "documents"))
    },

    // Paragraph-granularity near-dup removal (see [[paragraphDedup]]):
    // drop repeated ~32-token paragraphs wherever they recur, keep the
    // first occurrence, reassemble. ORACLE RESHAPED in round 14 to
    // dump-readback on the BAND TABLE (see the q107Dir comment — the old
    // exact-jaccard equality assumption failed at sf0.1 on a
    // banding-missed short-chunk pair); chunking, the verify, the fold
    // and the reassembly still replay from `documents` in plain SQL.
    "q107_paragraph_dedup" -> Q(
      "Paragraph-level near-dup removal: 32-token chunks, banded minhash " +
        "graph (bands dump-readback-oracled), keep first occurrence, " +
        "reassembled text",
      paragraphOracleSql) { (s, dir) =>
      // snapped for the same reason as [[paragraphDedup]]'s chunk table:
      // the band dump below plus the readback tail's shingle/node/
      // reassembly actions otherwise each re-run the chunk explode
      val chunks = org.apache.spark.sql.graft.shims.snap(
        paragraphChunks(Tables(s, dir, "documents")), "dedup.paragraphChunks")
      Dedup.synchronized {
        StoreSwap.write(paragraphBands(chunks), s"$q107Dir/bands.parquet")
      }
      paragraphDedupOver(
        chunks, s.read.parquet(s"$q107Dir/bands.parquet"), threshold = 0.7)
    },

    // [[dedupTiers]]: the exact tier is MD5-replayable outright; the near
    // tier's oracle is the exact-jaccard component replay RESTRICTED to
    // the exact representatives (banding is per-doc deterministic, so the
    // rep subset inherits the corpus' recall-1.0 equality — the q111
    // restriction argument) + the shared q91 ranking.
    "q122_dedup_tiers" -> Q(
      "Tiered dedup disposition: exact-fingerprint tier, then minhash " +
        "near-dup tier over representatives; final canonical per doc",
      """WITH RECURSIVE
        |fp AS (SELECT doc_id, MD5(LOWER(TRIM(text))) AS f FROM documents),
        |can AS (SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY f),
        |wr AS (SELECT fp.doc_id, can.rep FROM fp JOIN can ON fp.f = can.f),
        |reps AS (SELECT d.doc_id, d.text FROM documents d
        |         JOIN wr ON wr.doc_id = d.doc_id WHERE wr.doc_id = wr.rep),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM reps),
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
        |pj AS (
        |  SELECT u, v, CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) AS j
        |  FROM inter
        |  JOIN sz na ON na.doc_id = u JOIN sz nb ON nb.doc_id = v),
        |pairs AS (SELECT u, v FROM pj WHERE j >= 0.7),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |mins AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
        |comp AS (SELECT LEAST(COALESCE(m.mn, r.doc_id), r.doc_id) AS cluster_id,
        |                r.doc_id
        |         FROM reps r LEFT JOIN mins m ON m.doc_id = r.doc_id),
        |rk AS (SELECT comp.cluster_id, comp.doc_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                ORDER BY d.n_chars DESC, comp.doc_id) = 1 AS INTEGER) AS keep
        |       FROM comp JOIN documents d ON d.doc_id = comp.doc_id),
        |kp AS (SELECT cluster_id, doc_id AS canonical FROM rk WHERE keep = 1),
        |rd AS (SELECT rk.doc_id AS rep, rk.keep, kp.canonical
        |       FROM rk JOIN kp ON kp.cluster_id = rk.cluster_id)
        |SELECT wr.doc_id,
        |  CASE WHEN wr.doc_id <> wr.rep THEN 'exact_dup'
        |       WHEN rd.keep = 0 THEN 'near_dup' ELSE 'keep' END AS tier,
        |  rd.canonical
        |FROM wr JOIN rd ON rd.rep = wr.rep
        |ORDER BY wr.doc_id""".stripMargin) { (s, dir) =>
      dedupTiers(Tables(s, dir, "documents"))
    },

    // FULL three-tier pipeline (see [[fullDedupPipeline]]): q122's
    // disposition + q107's paragraph cleanup over the keepers only. The
    // oracle composes both replays: the q122 chain verbatim, then the
    // paragraph chunk-graph chain RESTRICTED to the keeper set (the same
    // restriction argument as q122's rep-restricted banding: chunking and
    // banding are per-doc deterministic, so the keeper subset inherits
    // the corpus equality; duplicated chunks are verbatim, j = 1.0).
    "q143_full_dedup" -> Q(
      "Full three-tier dedup: exact fingerprints, near-dup manifest over " +
        "reps, paragraph cleanup for keepers — one per-doc disposition",
      """WITH RECURSIVE
        |fp AS (SELECT doc_id, MD5(LOWER(TRIM(text))) AS f FROM documents),
        |can AS (SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY f),
        |wr AS (SELECT fp.doc_id, can.rep FROM fp JOIN can ON fp.f = can.f),
        |reps AS (SELECT d.doc_id, d.text FROM documents d
        |         JOIN wr ON wr.doc_id = d.doc_id WHERE wr.doc_id = wr.rep),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM reps),
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
        |pj AS (
        |  SELECT u, v, CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) AS j
        |  FROM inter
        |  JOIN sz na ON na.doc_id = u JOIN sz nb ON nb.doc_id = v),
        |pairs AS (SELECT u, v FROM pj WHERE j >= 0.7),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |mins AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
        |comp AS (SELECT LEAST(COALESCE(m.mn, r.doc_id), r.doc_id) AS cluster_id,
        |                r.doc_id
        |         FROM reps r LEFT JOIN mins m ON m.doc_id = r.doc_id),
        |rk AS (SELECT comp.cluster_id, comp.doc_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                ORDER BY d.n_chars DESC, comp.doc_id) = 1 AS INTEGER) AS keep
        |       FROM comp JOIN documents d ON d.doc_id = comp.doc_id),
        |kp AS (SELECT cluster_id, doc_id AS canonical FROM rk WHERE keep = 1),
        |rd AS (SELECT rk.doc_id AS rep, rk.keep, kp.canonical
        |       FROM rk JOIN kp ON kp.cluster_id = rk.cluster_id),
        |disp AS (
        |  SELECT wr.doc_id,
        |    CASE WHEN wr.doc_id <> wr.rep THEN 'exact_dup'
        |         WHEN rd.keep = 0 THEN 'near_dup' ELSE 'keep' END AS tier,
        |    rd.canonical
        |  FROM wr JOIN rd ON rd.rep = wr.rep),
        |kd AS (SELECT doc_id FROM disp WHERE tier = 'keep'),
        |pt AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
        |       FROM documents d JOIN kd ON kd.doc_id = d.doc_id),
        |pch AS (
        |  SELECT doc_id, u.i AS chunk_idx,
        |         array_to_string(toks[u.i*32+1 : u.i*32+32], ' ') AS ptext
        |  FROM pt, LATERAL (SELECT unnest(range(0, (len(toks) - 1) // 32 + 1)) AS i) u),
        |pk AS (SELECT doc_id * 4194304 + chunk_idx AS ck, doc_id, chunk_idx, ptext FROM pch),
        |pks AS (SELECT ck, string_split(ptext, ' ') AS toks FROM pk),
        |ps AS (SELECT ck,
        |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |             ELSE list_transform(range(1, len(toks) - 1),
        |                                 i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |      FROM pks),
        |pg AS (SELECT DISTINCT ck, unnest(sh) AS g FROM ps),
        |psz AS (SELECT ck, COUNT(*) AS n FROM pg GROUP BY ck),
        |pinter AS (
        |  SELECT a.ck AS u, b.ck AS v, COUNT(*) AS ninter
        |  FROM pg a JOIN pg b ON a.g = b.g AND a.ck < b.ck
        |  GROUP BY u, v),
        |ppairs AS (
        |  SELECT u, v FROM pinter
        |  JOIN psz na ON na.ck = u JOIN psz nb ON nb.ck = v
        |  WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.7),
        |pedges AS (SELECT u, v FROM ppairs UNION SELECT v, u FROM ppairs),
        |preach(u, v) AS (
        |  SELECT u, v FROM pedges
        |  UNION
        |  SELECT r.u, e.v FROM preach r JOIN pedges e ON r.v = e.u),
        |pmins AS (SELECT u AS ck, MIN(v) AS mn FROM preach GROUP BY u),
        |pkept AS (
        |  SELECT pk.doc_id,
        |    CASE WHEN LEAST(COALESCE(m.mn, pk.ck), pk.ck) = pk.ck THEN 1 ELSE 0 END AS keep
        |  FROM pk LEFT JOIN pmins m ON m.ck = pk.ck),
        |pstat AS (SELECT doc_id, COUNT(*) AS n_par,
        |            CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
        |          FROM pkept GROUP BY doc_id)
        |SELECT disp.doc_id, disp.tier, disp.canonical,
        |  COALESCE(pstat.n_par, CAST(-1 AS BIGINT)) AS n_par,
        |  COALESCE(pstat.n_dropped, CAST(-1 AS BIGINT)) AS n_dropped
        |FROM disp LEFT JOIN pstat ON pstat.doc_id = disp.doc_id
        |ORDER BY disp.doc_id""".stripMargin) { (s, dir) =>
      fullDedupPipeline(Tables(s, dir, "documents"))
    },

    // BANDING RECALL AUDIT (see [[bandingRecallAudit]]): the oracle
    // replays the exact pair graph for BOTH counts and pins recall_bp at
    // the literal 10000 — so a banding miss on the gate corpus fails THIS
    // hash check with the gauge's own number, not four downstream oracle
    // checks (the MinHashRecallSpec argument, now also a scheduled query).
    "q144_banding_recall" -> Q(
      "Banding recall audit: exact-jaccard pair graph vs the banded " +
        "minhash graph — n_true/n_caught/recall_bp (expected 10000)",
      s"""WITH $ExactPairPrefixSql,
        |tp AS (SELECT u, v FROM pj WHERE j >= 0.7)
        |SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |  (SELECT COUNT(*) FROM tp) AS n_true_pairs,
        |  (SELECT COUNT(*) FROM tp) AS n_caught,
        |  CAST(10000 AS BIGINT) AS recall_bp""".stripMargin) { (s, dir) =>
      bandingRecallAudit(Tables(s, dir, "documents"))
    },

    // THRESHOLD calibration sweep (see [[dedupThresholdSweep]]): pairs
    // merged / docs touched at every candidate operating point ≥ 0.7,
    // from ONE exact pair pass. Integer cross-multiplication decides
    // membership on both engines — no float threshold compare anywhere.
    "q174_dedup_threshold_sweep" -> Q(
      "Dedup threshold calibration: pairs merged and docs touched at " +
        "each candidate jaccard operating point, one pair pass",
      thresholdSweepOracleSql("TRUE")) { (s, dir) =>
      dedupThresholdSweep(Tables(s, dir, "documents"))
    },

    // The PRODUCTION shape of the calibration sweep: at 100 TB the exact
    // pair tier never runs full-corpus — it runs over the deterministic
    // keep-hash gate (`sampleBp`, the q93/q139 sampling convention), which
    // bounds even the prefix-filtered join's linear true-pair term. This
    // registers that exact operating mode: both engines gate with the
    // SAME integer hash (bit-identical on positive ids), and the sweep
    // template is q174's verbatim — one CTE chain, twins cannot drift.
    // sampleBp=5000 keeps the gate-scale fixture exercising real pairs
    // (6 at sf0.01) while both ENDPOINTS must pass the gate, the honest
    // production semantics (a sampled pair tier estimates PAIR RATE, so
    // the quadratic thinning — ~bp²/10^8 of pairs — is the point, not a
    // bug; q144's recall audit runs the same gate for the same reason).
    "q180_sampled_dedup_sweep" -> Q(
      "Sampled dedup threshold sweep: the production hash-gated pair " +
        "tier (sampleBp=5000), same template as q174",
      thresholdSweepOracleSql(sampleGateSql(5000L))) { (s, dir) =>
      dedupThresholdSweep(Tables(s, dir, "documents"), sampleBp = 5000L)
    },

    // Per-source BLOWUP attribution ([[pairBlowupBySource]]): q178's
    // gauge partitioned by the dial an ops rotation can actually turn —
    // which source's postings create the raw join's output. share_bp is
    // a true partition (contributions sum to 2·n_raw_pairs). Oracle: the
    // same statistics off the string-gram tables; all integers, shares by
    // integral cross-multiplication.
    "q182_blowup_by_source" -> Q(
      "Pair-tier blowup by source: each source's additive share of the " +
        "raw self-join output (sums to 2x n_raw_pairs)",
      s"""WITH t AS (SELECT d.source, d.doc_id, string_split(d.text, ' ') AS toks
        |           FROM documents d),
        |s AS (SELECT source, doc_id,
        |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |             ELSE list_transform(range(1, len(toks) - 1),
        |                                 i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |      FROM t),
        |g AS (SELECT DISTINCT source, doc_id, unnest(sh) AS g FROM s),
        |dfr AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
        |ps AS (SELECT source, g.g, COUNT(*) AS dfs
        |       FROM g GROUP BY source, g.g),
        |agg AS (
        |  SELECT ps.source,
        |    CAST(SUM(ps.dfs) AS BIGINT) AS n_postings,
        |    CAST(SUM(ps.dfs * (dfr.df - 1)) AS BIGINT) AS raw_contrib
        |  FROM ps JOIN dfr ON dfr.g = ps.g GROUP BY ps.source),
        |tot AS (SELECT SUM(raw_contrib) AS contrib_total FROM agg),
        |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
        |SELECT nd.source, nd.n_docs, agg.n_postings, agg.raw_contrib,
        |  CAST((agg.raw_contrib * 10000) // (SELECT contrib_total FROM tot)
        |       AS BIGINT) AS share_bp
        |FROM nd JOIN agg ON agg.source = nd.source
        |ORDER BY nd.source""".stripMargin) { (s, dir) =>
      pairBlowupBySource(Tables(s, dir, "documents"))
    },

    // QUADRATIC-BLOWUP gauge ([[pairBlowupAudit]]): Σ_h C(df(h),2) — the
    // raw shared-shingle self-join's output size — against the true pair
    // count at the 0.70 floor, plus the df shape behind it (max_df,
    // posting count). The number an ops rotation reads to size sampleBp
    // and to catch boilerplate pressure BEFORE the pair tier runs; the
    // gauge itself is linear (df aggregate + 1-row fold), never the join
    // it measures. Oracle: the same statistics off the string-gram df
    // table (the shared ExactPairPrefixSql CTEs) — all integers, with the
    // same exact integral halving.
    "q178_pair_blowup_audit" -> Q(
      "Pair-tier blowup gauge: raw self-join pair count (sum of C(df,2)) " +
        "vs true pairs at the 0.70 floor, df shape alongside",
      s"""WITH $ExactPairPrefixSql,
        |dfr AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
        |  CAST((SELECT COUNT(*) FROM dfr) AS BIGINT) AS n_grams,
        |  CAST((SELECT SUM(df) FROM dfr) AS BIGINT) AS n_postings,
        |  CAST((SELECT MAX(df) FROM dfr) AS BIGINT) AS max_df,
        |  CAST((SELECT SUM(df * (df - 1) // 2) FROM dfr) AS BIGINT)
        |    AS n_raw_pairs,
        |  CAST((SELECT COUNT(*) FROM inter
        |        JOIN sz na ON na.doc_id = u JOIN sz nb ON nb.doc_id = v
        |        WHERE ninter * 10000 >= 7000 * (na.n + nb.n - ninter))
        |       AS BIGINT) AS n_true_pairs""".stripMargin) { (s, dir) =>
      pairBlowupAudit(Tables(s, dir, "documents"))
    },

  )

  /** Connected components over the EXACT cosine>=0.4 pair graph (the
    * q37/q55 audit tier — PLANS.md § "Exact-tier scale policy"). Shared by
    * q55 (min-id keep) and q91 (quality-ranked keep) so both rank over the
    * identical component assignment.
    */
  private def exactCosineComponents(emb: DataFrame): DataFrame =
    graft.operators.ConnectedComponents.run(
      emb.select(col("vec_id").as("id")),
      Similarity.blockedNearDupPairs(emb, threshold = 0.4)
        .select(col("id_a").as("src"), col("id_b").as("dst")))

  /** THE representative-selection rule, shared by q91 (exact audit graph)
    * and q97 (production minhash graph) so the two paths cannot rank
    * differently: one survivor per cluster by quality (`n_chars` DESC,
    * `doc_id` ASC). One `row_number` window partitioned by cluster — the
    * shuffle carries (cluster_id, doc_id, n_chars) triples only, never
    * text, and Spark's WindowGroupLimit partial-ranks map-side. Linear
    * given ANY cluster assignment.
    */
  def rankRepresentatives(assignment: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
    assignment
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rnk", row_number().over(w))
      .select(col("cluster_id"), col("doc_id"), col("n_chars"),
        when(col("rnk") === 1, 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  /** q91: canonical-document selection over the EXACT audit graph — the
    * exact components are used so the oracle can replay them; the
    * selection itself is [[rankRepresentatives]], unchanged at scale over
    * sub-quadratic assignments (see [[dedupManifest]]).
    */
  def clusterRepresentatives(docs: DataFrame, emb: DataFrame): DataFrame =
    rankRepresentatives(
      exactCosineComponents(emb)
        .select(col("component").as("cluster_id"), col("id").as("doc_id")),
      docs)

  /** q97: the END-TO-END production near-dup removal path — q33's banded
    * minhash candidates → jaccard-verified pairs → connected components →
    * [[rankRepresentatives]]. No quadratic stage anywhere: candidates come
    * from band equi-joins on 8-byte keys, the CC loop shuffles ids, and
    * selection is one cluster-keyed window. This is the chain a 100 TB
    * pipeline actually runs; q91 is its exact-graph audit twin (same
    * ranking code, shared by construction). `maxBucketSize` passes through
    * to [[minhashPairs]] — the degenerate-bucket guard a boilerplate-heavy
    * web corpus needs (see there); default = exact banded semantics.
    */
  def dedupManifest(
      docs: DataFrame,
      threshold: Double = 0.7,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val comps = graft.operators.ConnectedComponents.run(
      docs.select(col("doc_id").as("id")),
      minhashPairs(docs, threshold, maxBucketSize)
        .select(col("a").as("src"), col("b").as("dst")))
    rankRepresentatives(
      comps.select(col("component").as("cluster_id"), col("id").as("doc_id")),
      docs)
  }

  /** q107: PARAGRAPH-granularity near-dup removal (CCNet-style) — the
    * intermediate between whole-doc dedup (q33/q97) and substring-span
    * excision (q86): drop repeated paragraphs wherever they recur, keep
    * the first (minimum-key) occurrence, reassemble each doc from its
    * surviving paragraphs.
    *
    * "Paragraph" = non-overlapping `window`-token chunk (the q78 chunker
    * at stride = window; the synthetic corpus has no newlines — on real
    * text, swap the splitter, the graph machinery is unchanged). The
    * near-dup graph goes through [[minhashPairs]]' body: chunk keys
    * (doc_id·[[ParagraphChunkStride]] + chunk_idx, GUARDED — the key
    * expression raises on any chunk_idx ≥ 2^22 or doc_id ≥ 2^41 rather
    * than silently colliding with a neighboring doc's keys) pose as
    * doc_ids over chunk text, so candidates come from the same band
    * equi-join and only 8-byte hashes shuffle.
    * Components via the same min-label propagation; keep = component min.
    * Reassembly is one per-doc aggregate: collect kept (chunk_idx, text)
    * structs, array_sort (orders by chunk_idx, the struct's first field),
    * join — deterministic, never dependent on row arrival order.
    */
  def paragraphDedup(
      docs: DataFrame,
      window: Int = 32,
      threshold: Double = 0.7,
      stride: Long = ParagraphChunkStride): DataFrame = {
    // snap the chunk table once (the incrementalRelease lever): it feeds
    // the band kernel, the shingle kernel (twice, via the verify joins),
    // the CC node snap and the final reassembly — unsnapped, every one of
    // those actions re-ran the upstream doc chain + the chunk explode.
    // Same O(corpus) materialization class as the CC loop's edge snap.
    val chunks = org.apache.spark.sql.graft.shims.snap(
      paragraphChunks(docs, window, stride), "dedup.paragraphChunks")
    paragraphDedupOver(chunks, paragraphBands(chunks), threshold)
  }

  /** The chunk table of [[paragraphDedup]]: (doc_id, chunk_idx, ptext,
    * ck) — q107's first dumpable artifact.
    */
  def paragraphChunks(
      docs: DataFrame,
      window: Int = 32,
      stride: Long = ParagraphChunkStride): DataFrame = {
    // the guard lives INSIDE the ck expression (not a separate action), so
    // it cannot be pruned away and costs one comparison per chunk; the
    // encoding is monotone in (doc_id, chunk_idx), so component minima
    // still mean "first occurrence in document order"
    val ckGuarded = when(
      col("c.chunk_idx") < stride &&
        col("doc_id") >= 0 && col("doc_id") < Long.MaxValue / stride,
      col("doc_id") * stride + col("c.chunk_idx"))
      .otherwise(raise_error(format_string(
        "paragraphDedup: chunk key overflow (doc_id=%d, chunk_idx=%d, stride=%d)",
        col("doc_id"), col("c.chunk_idx"), lit(stride))))
    docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), floor((size(col("t")) - 1) / window).cast("int")),
          i => struct(i.cast("long").as("chunk_idx"),
            array_join(slice(col("t"), i * window + 1, lit(window)), " ").as("ptext"))))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"), col("c.ptext").as("ptext"),
        ckGuarded.as("ck"))
  }

  /** The chunk-grain LSH band table (ck, band, bhash) — q107's second
    * dumpable artifact, banded by the SAME shared-constant kernel as
    * every document-grain minhash path.
    */
  def paragraphBands(chunks: DataFrame): DataFrame =
    minhashBands(chunks.select(col("ck").as("doc_id"), col("ptext").as("text")))
      .select(col("doc_id").as("ck"), col("band"), col("bhash"))

  /** Candidates → exact-jaccard verify → component fold → reassembly over
    * precomputed chunk + band frames (dumped or inline) — the readback
    * half of q107's dump-readback oracle and the shared tail of
    * [[paragraphDedup]].
    */
  def paragraphDedupOver(
      chunks: DataFrame,
      bands: DataFrame,
      threshold: Double): DataFrame = {
    // chunk keys pose as doc_ids through the shared body (ck → doc_id in,
    // pairs of chunk keys out)
    val sh = shingled(chunks.select(col("ck").as("doc_id"), col("ptext").as("text")))
    val ckBands = bands.select(col("ck").as("doc_id"), col("band"), col("bhash"))
    val pairs = bandedJaccard(ckBands, ckBands, sh, sh, threshold)
    val comps = graft.operators.ConnectedComponents.run(
      chunks.select(col("ck").as("id")),
      pairs.select(col("a").as("src"), col("b").as("dst")))
    chunks
      .join(comps.select(col("id").as("ck"), col("component")), "ck")
      .withColumn("keep", (col("ck") === col("component")).cast("int"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_par"),
        sum(lit(1) - col("keep")).cast("long").as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("keep") === 1,
            struct(col("chunk_idx"), col("ptext"))))),
          c => c.getField("ptext")), " ").as("text_clean"))
      .orderBy("doc_id")
  }

  /** EXACT set-similarity self-join — every pair (u < v) with
    * jaccard(shingles_u, shingles_v) ≥ minBp/10000, as
    * (u, v, ninter, nunion) — WITHOUT the raw shared-shingle self-join.
    * The raw join's output is Σ_h df(h)², quadratic in per-shingle
    * document frequency, which is exactly what boilerplate inflates at
    * corpus scale (measured: q174 went 1.99 s → 144 s from sf0.1 to the
    * derived sf1 corpus on that shape — the corpus' duplicated text
    * blocks are the fixture-scale stand-in for web boilerplate).
    *
    * This is the AllPairs/PPJoin prefix filter instead, and it is
    * EXACT, not approximate: order all shingle hashes by (document
    * frequency asc, hash asc) — a global total order, rarest first —
    * and give each doc a PREFIX of its first n − ⌈t·n⌉ + 1 shingles in
    * that order. Any pair with J ≥ t has ninter ≥ ⌈t·n⌉ common shingles
    * (nunion ≥ n), and if its FIRST common shingle in the order missed
    * a prefix, all ⌈t·n⌉ of them would have to fit in that doc's
    * trailing ⌈t·n⌉ − 1 positions — impossible. So a self-join on
    * prefix shingles alone loses no qualifying pair, while hot
    * boilerplate shingles — maximal df, last in the order — fall out of
    * every prefix and never generate a candidate. Candidates verify by
    * the exact sorted-merge intersection count
    * ([[HashExpressions.intersectCountSorted]], codegen'd), and
    * membership is integer cross-multiplication (the q141 convention) —
    * no float anywhere, so the result set is bit-identical to the raw
    * join's on both engines. The candidate join also carries the length
    * filter (J ≥ t forces minBp·max(n_u,n_v) ≤ 10000·min(n_u,n_v)),
    * pruning size-mismatched candidates before the array verify. Both
    * prefix conditions are cross-multiplied integers:
    * rk ≤ n − ⌈minBp·n/10000⌉ + 1 ⇔ minBp·n ≤ 10000·(n − rk + 1).
    *
    * The df aggregate and the per-doc row_number window are one extra
    * linear pass each over the exploded shingles — the same data the
    * raw join already shuffled on h — and Spark's ReuseExchange dedups
    * the repeated subtrees, so the overhead is a constant factor on the
    * linear part while the quadratic part collapses to true candidates.
    */
  def exactJaccardPairs(docs: DataFrame, minBp: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingled(docs)
    val e = sh.select(
      col("doc_id"), size(col("sh")).cast("long").as("n"), explode(col("sh")).as("h"))
    val dfreq = e.groupBy("h").agg(count(lit(1)).as("df"))
    val pre = e.join(dfreq, "h")
      .withColumn("rk",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")))
      .filter(lit(minBp.toLong) * col("n") <= lit(10000L) * (col("n") - col("rk") + 1))
      .select(col("doc_id"), col("n"), col("h"), col("rk"))
    // PPJoin POSITIONAL filter on top of the prefix join — also exact:
    // a common prefix token at ranks (rk_a, rk_b) bounds the whole
    // intersection by 1 + min(n_a − rk_a, n_b − rk_b) (everything else in
    // common must sit strictly after it on BOTH sides, in the shared df
    // order), so the BEST such bound over the pair's prefix matches must
    // still reach the jaccard overlap floor ninter ≥ t/(1+t)·(n_a+n_b)
    // (J = i/(n_a+n_b−i) ≥ t ⟺ (1+t)·i ≥ t·(n_a+n_b)). Aggregating
    // max(bound) per pair replaces the plain `.distinct()` — the same
    // (u, v) shuffle with two small ints more payload — and drops
    // candidates whose prefixes only touch near their tails, before the
    // full-array verify ever ships their shingle sets.
    val cand = pre.as("a")
      .join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          lit(minBp.toLong) * greatest(col("a.n"), col("b.n")) <=
            lit(10000L) * least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("u"), col("b.doc_id").as("v"),
        (lit(1L) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")))
          .as("ub"),
        (col("a.n") + col("b.n")).as("nsum2"))
      .groupBy("u", "v")
      .agg(max(col("ub")).as("ub"), first(col("nsum2")).as("nsum2"))
      .filter(lit(10000L + minBp.toLong) * col("ub") >=
        lit(minBp.toLong) * col("nsum2"))
      .select(col("u"), col("v"))
    cand
      .join(sh.select(col("doc_id").as("u"), col("sh").as("sh_u")), "u")
      .join(sh.select(col("doc_id").as("v"), col("sh").as("sh_v")), "v")
      .select(col("u"), col("v"),
        HashExpressions.intersectCountSorted(col("sh_u"), col("sh_v")).as("ninter"),
        (size(col("sh_u")) + size(col("sh_v"))).cast("long").as("nsum"))
      .select(col("u"), col("v"), col("ninter"),
        (col("nsum") - col("ninter")).as("nunion"))
      .filter(col("ninter") * 10000 >= lit(minBp.toLong) * col("nunion"))
  }

  /** q144: BANDING RECALL AUDIT — the gauge for the assumption everything
    * minhash-tiered rests on: does the deterministic 8×4 banding still
    * catch every true pair at the operating threshold ON THIS CORPUS?
    * The audit computes the EXACT jaccard pair graph
    * ([[exactJaccardPairs]] — prefix-filtered, never a cross join) and
    * the banded graph over the same docs, and reports
    * (n_true, n_caught, recall_bp). MinHashRecallSpec pins recall = 1.0
    * as a test; THIS runs the same measurement as a registered,
    * schedulable query — the number an ops rotation watches as the
    * corpus drifts toward the banding-lossy jaccard band.
    *
    * `sampleBp` gates the audited subset by the deterministic doc-hash
    * (production runs the quadratic-ish exact tier on a 1–10% sample;
    * the registered form audits the full corpus — the q37 audit-tier
    * convention — because the fixture's pair count is small).
    */
  def bandingRecallAudit(
      docs: DataFrame,
      threshold: Double = 0.7,
      sampleBp: Long = 10000L): DataFrame = {
    val s =
      if (sampleBp >= 10000L) docs
      else docs.filter(
        pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L))
          < sampleBp)
    // prefix-filtered exact pair graph at the truncated-bp floor (safe:
    // prefix pruning at t' ≤ t loses nothing above t), then the exact
    // float predicate this audit always used
    val truePairs = exactJaccardPairs(s, (threshold * 10000).toInt)
      .filter(col("ninter") / col("nunion") >= threshold)
      .select("u", "v")
    val caught = truePairs.join(
      minhashPairs(s, threshold).select(col("a").as("u"), col("b").as("v")),
      Seq("u", "v"), "left_semi")
    s.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(truePairs.agg(count(lit(1)).as("n_true_pairs"))))
      .crossJoin(broadcast(caught.agg(count(lit(1)).as("n_caught"))))
      .select(col("n_docs"), col("n_true_pairs"), col("n_caught"),
        when(col("n_true_pairs") === 0, lit(10000L))
          .otherwise(floor(lit(10000.0) * col("n_caught") / col("n_true_pairs"))
            .cast("long")).as("recall_bp"))
  }

  /** q174: the OTHER dedup calibration axis. q144 audits whether the
    * banding catches the pairs at the chosen threshold; this sweeps what
    * the THRESHOLD CHOICE itself costs — for every candidate operating
    * point, how many pairs would be merged and how many docs touched.
    * One [[exactJaccardPairs]] pass (prefix-filtered, never a cross
    * join) computes each pair's (ninter, nunion) ONCE, pre-filtered at
    * the grid minimum; the grid then sweeps that bounded pair statistic
    * (the q130/q148 pattern — no second corpus scan).
    * Membership is decided by integer cross-multiplication
    * (ninter·10000 ≥ thr_bp·nunion, the q141 convention), so the sweep
    * is exact on both engines with no float threshold anywhere. Same
    * audit-tier scale posture as q144: at 100 TB the exact pair tier
    * runs over a `sampleBp` hash-gated subset, full-corpus here because
    * the fixture's pair graph is small.
    */
  def dedupThresholdSweep(
      docs: DataFrame,
      gridBp: Seq[Int] = Seq(7000, 7500, 8000, 8500, 9000),
      sampleBp: Long = 10000L): DataFrame = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val s =
      if (sampleBp >= 10000L) docs
      else docs.filter(
        pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L))
          < sampleBp)
    val pairs = exactJaccardPairs(s, gridBp.min)
    val grid = gridBp.toDF("thr_bp")
    // ONE consumer of the pair pass: exploding each passing pair's two
    // endpoints makes count/2 the pair count and countDistinct the
    // affected-doc count in a single aggregation — a second consumer
    // would re-run the whole shingle self-join
    val agg = pairs.crossJoin(broadcast(grid))
      .filter(col("ninter") * 10000 >= col("thr_bp") * col("nunion"))
      .select(col("thr_bp"), explode(array(col("u"), col("v"))).as("d"))
      .groupBy("thr_bp")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct("d").as("n_docs_affected"))
    grid.join(broadcast(agg), Seq("thr_bp"), "left")
      .select(col("thr_bp"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"))
      .orderBy("thr_bp")
  }

  /** q178: the QUADRATIC-BLOWUP gauge for the exact pair tier — the
    * statistic that predicted this engine's own measured scale-killer,
    * registered as a schedulable query. The raw shared-shingle self-join
    * emits Σ_h C(df(h), 2) pairs (`n_raw_pairs`), a number that grows with
    * the SQUARE of per-shingle document frequency — i.e. with boilerplate
    * pressure — while the true pair graph (`n_true_pairs`, the
    * [[exactJaccardPairs]] output at the operating floor) grows only with
    * the corpus' actual duplication. The measured instance: the derived
    * 10× corpus put n_raw at 4.18e9 against 2.6e4 true pairs, the gap
    * that turned q174's pre-prefix-filter shape into 144 s. Watching
    * n_raw_pairs (plus max_df, the hottest shingle) per ingested corpus
    * is how an ops rotation decides sampleBp and catches a boilerplate
    * regression BEFORE scheduling the pair tier. Everything here is one
    * linear pass over the exploded shingles (df aggregate + one 1-row
    * fold) plus the already-prefix-filtered true-pair count — the gauge
    * itself never materializes the quadratic join it measures.
    */
  def pairBlowupAudit(docs: DataFrame, minBp: Int = 7000): DataFrame = {
    val sh = shingled(docs)
    val e = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    val dfreq = e.groupBy("h").agg(count(lit(1)).as("df"))
    // df·(df−1) is always even, so the integral DIV halving is exact —
    // no float in the gauge (the q141 integer-arithmetic convention)
    val stats = dfreq.agg(
      count(lit(1)).as("n_grams"),
      sum(col("df")).cast("long").as("n_postings"),
      max(col("df")).cast("long").as("max_df"),
      sum(expr("df * (df - 1) div 2")).cast("long").as("n_raw_pairs"))
    val tp = exactJaccardPairs(docs, minBp)
      .agg(count(lit(1)).as("n_true_pairs"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(tp))
  }

  /** q182: the per-SOURCE attribution of q178's blowup — the actionable
    * dial. Raw self-join pairs don't decompose by source (a hot shingle
    * pairs docs ACROSS sources), but each posting's contribution does:
    * a source's share of the raw join output is
    * Σ_h df_src(h)·(df(h) − 1) — every (doc-in-source, other-doc) ordered
    * pair through a shared shingle — and those contributions are ADDITIVE
    * (they sum to exactly 2·n_raw_pairs over sources), so `share_bp` is a
    * true partition of the blowup. The ops read: the source(s) carrying
    * the boilerplate get cleaned (q127's per-source flagger is the
    * companion) or get a tighter sampleBp, BEFORE the pair tier runs.
    * Cost: the same linear df pass as q178 plus one (source, h) count —
    * still never the join being measured.
    */
  def pairBlowupBySource(docs: DataFrame): DataFrame = {
    val sh = docs.select(
      col("source"), col("doc_id"),
      HashExpressions.shingleHashSet(
        graft.functions.Text.tokens(col("text")), k = ShingleK).as("sh"))
    val e = sh.select(col("source"), col("doc_id"), explode(col("sh")).as("h"))
    val dfreq = e.groupBy("h").agg(count(lit(1)).as("df"))
    val perSrc = e.groupBy("source", "h").agg(count(lit(1)).as("dfs"))
      .join(dfreq, "h")
      .groupBy("source")
      .agg(sum(col("dfs")).cast("long").as("n_postings"),
        sum(col("dfs") * (col("df") - 1)).cast("long").as("raw_contrib"))
    val total = perSrc.agg(sum(col("raw_contrib")).as("contrib_total"))
    val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    nd.join(perSrc, "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_postings"),
        col("raw_contrib"),
        expr("raw_contrib * 10000 div contrib_total").as("share_bp"))
      .orderBy("source")
  }

  /** q183: the BANDED tier's skew gauge — [[pairBlowupAudit]]'s companion
    * for the key the LSH join actually shuffles on: (band, bhash) bucket
    * sizes. Per band: bucket count, the banded join's candidate-pair mass
    * Σ C(size,2), and the largest bucket with its share of the band's
    * rows — the number that predicts a hot-key straggler in
    * [[minhashPairs]]' bucket join BEFORE it runs (a boilerplate-heavy
    * corpus concentrates signatures exactly the way it concentrates
    * shingle df). All integers off ONE banding pass — the same
    * (doc, band, bhash) table every minhash path shuffles — and the gauge
    * itself never joins. Where q178 sizes `sampleBp` for the exact tier,
    * this sizes salting/AQE-skew expectations for the banded tier.
    */
  def bandSkewAudit(docs: DataFrame): DataFrame =
    bandSkewOf(minhashBands(docs))

  /** The skew aggregation alone, over an already-banded table — factored
    * so q183 can run it on a DUMPED band table that DuckDB reads back
    * (the q46 artifact-readback move): the bucket identities stay on the
    * engine's minhash kernel, but every downstream count — bucket sizes,
    * candidate mass, max share — becomes hash-checkable ("gauge your
    * gauges"). Also the probe shape for a PERSISTED band store: the
    * gauge is a pure function of the index rows, no re-minhashing.
    */
  private[graft] def bandSkewOf(bands: DataFrame): DataFrame =
    bands
      .groupBy("band", "bhash").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).cast("long").as("n_rows"),
        max(col("sz")).cast("long").as("max_bucket"),
        sum(expr("sz * (sz - 1) div 2")).cast("long").as("cand_pairs"))
      .select(col("band"), col("n_buckets"), col("n_rows"), col("max_bucket"),
        expr("max_bucket * 10000 div n_rows").as("max_share_bp"),
        col("cand_pairs"))
      .orderBy("band")

  /** q184: the sampleBp RECOMMENDER — closes the loop from gauge to knob.
    * q178 measures the raw pair mass; q180's `sampleBp` bounds what the
    * sampled tier will actually face; this computes, for each candidate
    * pair BUDGET, the largest gate that keeps the expected sampled raw
    * mass inside it. Both endpoints must pass the gate, so the thinning
    * is quadratic — E[sampled raw pairs] = n_raw·(bp/10⁴)² — giving
    * bp* = ⌊√(budget·10⁸ DIV n_raw)⌋, clamped to 10000. Arithmetic is one
    * integral division plus ONE IEEE sqrt of an exactly-representable
    * integer (≤ 2^53) — correctly rounded and therefore bit-identical on
    * both engines (the q79/q102 float-op convention); everything else is
    * integer cross-multiplication. One row per budget from the SAME
    * single df pass as q178 (the grid sweeps a 1-row statistic — the
    * q130/q148 pattern).
    */
  def sampleBpRecommender(
      docs: DataFrame,
      budgets: Seq[Long] = Seq(10000L, 100000L, 1000000L)): DataFrame = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val sh = shingled(docs)
    val e = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    val nRaw = e.groupBy("h").agg(count(lit(1)).as("df"))
      .agg(sum(expr("df * (df - 1) div 2")).cast("long").as("n_raw_pairs"))
    budgets.toDF("budget").crossJoin(broadcast(nRaw))
      .select(col("budget"), col("n_raw_pairs"),
        least(lit(10000L),
          coalesce(
            floor(sqrt(expr("CAST(budget * 100000000 DIV n_raw_pairs AS DOUBLE)")))
              .cast("long"),
            lit(10000L))).as("rec_bp"))
      .withColumn("expected_pairs",
        expr("n_raw_pairs * rec_bp * rec_bp DIV 100000000"))
      .orderBy("budget")
  }

  /** q143: the FULL three-tier dedup pipeline — the complete text-dedup
    * pass a production corpus actually receives, in one plan:
    *   1. exact tier: byte-ish fingerprint groups (most ingest dups die
    *      here for one hash aggregate);
    *   2. document near-dup tier: banded minhash → components → quality
    *      ranking over the exact representatives ([[dedupTiers]]);
    *   3. paragraph tier: the SURVIVORS get [[paragraphDedup]]'s
    *      repeated-chunk removal — run over keepers ONLY, because a
    *      removed document must not claim "first occurrence" of a
    *      paragraph its surviving twin also carries.
    * Output: per-doc tier + final canonical, plus the keepers' paragraph
    * stats (-1 for removed docs — no cleanup applies to them).
    *
    * Tier order is load-bearing twice over: each tier shrinks the next
    * tier's input (exact reps ⊂ docs, keepers ⊂ reps — the banding and
    * the chunk graph run on monotonically smaller sets), and the
    * paragraph graph over keepers is exactly the graph the published
    * corpus needs. Composes three already-oracled chains verbatim.
    */
  def fullDedupPipeline(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    // snap the disposition once (the incrementalRelease lever): it feeds
    // the keeper-id filter below, the paragraph tier's whole input chain
    // AND the final join — unsnapped, each of those actions re-executed
    // the exact+near tier joins and ranking window. The measured-size leaf
    // also lets the keeper-id join broadcast-plan, which keeps `keepers`
    // (and the chunk/shingle kernels over it) on the docs scan's
    // partitioning instead of a single AQE-coalesced task (measured: the
    // paragraph-tier chunk kernel ran 3.1 s on ONE task at sf0.1).
    val tiers = org.apache.spark.sql.graft.shims.snap(dedupTiers(docs, threshold), "dedup.tiers")
    val keepers = docs.join(
      tiers.filter(col("tier") === "keep").select("doc_id"), "doc_id")
    val para = paragraphDedup(keepers)
      .select(col("doc_id"), col("n_par"), col("n_dropped"))
    tiers.join(para, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tier"), col("canonical"),
        coalesce(col("n_par"), lit(-1L)).as("n_par"),
        coalesce(col("n_dropped"), lit(-1L)).as("n_dropped"))
      .orderBy("doc_id")
  }
}
