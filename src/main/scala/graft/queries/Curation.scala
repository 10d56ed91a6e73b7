package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.ops.StoreSwap

/** Dataset-curation operators for training pipelines: per-source mixture
  * sampling, context-window sequence packing, and eval-set decontamination.
  * All three are pure declarative plans (window functions, equi-joins,
  * aggregates — nothing driver-side) and all three are DuckDB-oracled.
  */
object Curation {

  /** The 100 TB form of q59's decontamination: identical plan shape
    * (explode → broadcast tiny eval set → equi-join → per-doc count) but
    * the join key is the 8-byte XXH64 shingle hash
    * ([[graft.functions.HashExpressions.shingleHashSet]], one codegen
    * kernel producing the sorted-distinct set directly) instead of the
    * k-word string — at corpus scale that's ~an order of magnitude less
    * shuffle/broadcast payload for the same contamination decisions.
    * CurationSpec cross-checks it row-identical to the string form (q59)
    * on the testdata corpora; q59 keeps the string form registered because
    * DuckDB can only oracle what it can recompute.
    */
  def hashedDecontam(
      docs: org.apache.spark.sql.DataFrame,
      evalMaxId: Long = 20L,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    // shingleHashSet already returns the DISTINCT set, so no array_distinct
    val sh = docs.select(
      col("doc_id"),
      graft.functions.HashExpressions
        .shingleHashSet(split(col("text"), " ", -1), k).as("sh"))
    // eval side filters BEFORE shingling (the q59/q74/q111 move): the
    // explode's inferred isnotnull/size>0 predicates otherwise push the
    // shingle kernel into the corpus-wide scan filter
    val ev = docs.filter(col("doc_id") < evalMaxId)
      .select(explode(graft.functions.HashExpressions
        .shingleHashSet(split(col("text"), " ", -1), k)).as("g"))
      .distinct()
    val tr = sh.filter(col("doc_id") >= evalMaxId)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    tr.join(broadcast(ev), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Bloom-gated decontamination — what replaces [[hashedDecontam]] when
    * the eval/reference shingle inventory is itself too big to broadcast
    * as an exact set (full benchmark-suite sweeps, url blocklists). The
    * exact set is summarized into a fixed-size Bloom filter (a distributed
    * `stat.bloomFilter` aggregation — the corpus never sees the exact set);
    * the corpus-side pass becomes a shuffle-free codegen'd `filter` via
    * [[graft.functions.BloomExpressions.mightContainLong]], and only the
    * SURVIVING (doc, shingle) candidates — O(contamination + fpp·corpus),
    * not O(corpus) — enter the exact-verify equi-join that removes the
    * bloom's false positives. One-sided error ⇒ the final counts are
    * bit-identical to [[hashedDecontam]]'s (CurationSpec asserts exactly
    * that, plus at fpp=0.5 where false positives are guaranteed present
    * pre-verify). Eval-side scans run twice (count + bloom build) — the
    * eval corpus is the small side by definition, and doc_id pushdown
    * prunes the parquet scan to it.
    */
  def bloomDecontam(
      docs: org.apache.spark.sql.DataFrame,
      evalMaxId: Long = 20L,
      k: Int = 5,
      fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    val sh = docs.select(
      col("doc_id"),
      graft.functions.HashExpressions
        .shingleHashSet(split(col("text"), " ", -1), k).as("sh"))
    // filter-then-shingle on the eval side — same rationale as
    // [[hashedDecontam]] (and this ev is executed three times: the count,
    // the bloom build and the exact-verify join)
    val ev = docs.filter(col("doc_id") < evalMaxId)
      .select(explode(graft.functions.HashExpressions
        .shingleHashSet(split(col("text"), " ", -1), k)).as("g"))
      .distinct()
    val bloom = ev.stat.bloomFilter("g", ev.count().max(1L), fpp)
    val tr = sh.filter(col("doc_id") >= evalMaxId)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    tr.filter(graft.functions.BloomExpressions.mightContainLong(col("g"), bloom))
      .join(ev, "g") // exact verify: survivors only; AQE sizes the join
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** RAG/context-window chunking: every doc split into overlapping
    * `window`-token chunks on a `stride`-token stride (chunk i covers token
    * positions [i·stride+1, i·stride+window]; the last chunk is short).
    * Pure per-row expression work — sequence → transform → explode inside
    * one codegen stage, no shuffle but the caller's presentation sort — so
    * at 100 TB it's a single corpus pass that parallelizes per input
    * split. Deterministic (position-derived ids, no rand). Requires
    * `stride ≥ 1` (progress) — `stride ≤ window` gives gap-free coverage,
    * `stride < window` the usual overlap; ChunkingPropertySpec proves the
    * coverage/reconstruction invariants across random (window, stride).
    */
  def chunkDocs(
      docs: org.apache.spark.sql.DataFrame,
      window: Int = 32,
      stride: Int = 24): org.apache.spark.sql.DataFrame = {
    require(stride >= 1 && window >= 1, s"window=$window stride=$stride")
    val toks = col("toks")
    docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor((size(toks) - 1) / stride).cast("int")),
        i => struct(i.cast("long").as("idx"),
          slice(toks, i * stride + 1, lit(window)).as("c")))).as("ch"))
      .select(col("doc_id"),
        col("ch.idx").as("chunk_idx"),
        size(col("ch.c")).cast("long").as("n_tok"),
        element_at(col("ch.c"), 1).as("head_tok"),
        element_at(col("ch.c"), -1).as("tail_tok"))
  }

  /** The deterministic low-quality boilerplate snippets [[nbQuality]]
    * injects (the q72 precedent: the synthetic corpus is uniform word-soup
    * with NO organic class signal — 31 distinct tokens spread evenly over
    * every source — so a trained classifier needs planted labels to have
    * anything learnable, and the plant must be replayable in ANSI SQL for
    * the oracle).
    */
  private[queries] val SpamSnippets = Seq(
    "click here free offer buy now limited deal exclusive winner",
    "subscribe today cheap guarantee instant bonus prize claim reward",
    "visit site best rates act fast discount promo urgent sale")

  /** Trained quality classifier — the q73 upgrade from a fixed bigram LM to
    * a model FIT ON THE CORPUS: multinomial Naive Bayes over space-split
    * token counts, Laplace-smoothed, trained in ONE aggregate pass over the
    * train split (doc_id % 5 != 0) and scored on the holdout (% 5 == 0).
    *
    * Labels are planted deterministically: odd doc_ids get one of three
    * boilerplate snippets appended ([[SpamSnippets]], cycled by doc_id % 3)
    * and are labeled `junk`; even doc_ids stay `clean`. The injected
    * vocabulary is absent from clean docs, so per-token class odds are
    * decisive — holdout score gaps measure in tens of nats, which is what
    * makes the cross-engine argmax hash-safe (doubles never reach the
    * output; near-ties would make the prediction depend on libm ulps).
    *
    * Plan shape (one training aggregate + one scoring join):
    *   1. train token counts per (label, token) — the corpus-sized exchange;
    *      class totals, vocab size, and doc priors derive from it as tiny
    *      aggregates (broadcast);
    *   2. holdout (doc, token, cnt) LEFT-joins the per-token count table
    *      (unseen tokens smooth to +1) and one per-doc aggregate computes
    *      both class scores: log prior + Σ cnt·log((n_lt+1)/(n_l+V));
    *   3. argmax → confusion matrix (label, predicted, n_docs) — integer
    *      counts only.
    * At 100 TB the token strings become 8-byte hashes (the q67/q81 twin
    * move) — the plan shape is unchanged; the string form is registered so
    * DuckDB can replay training AND scoring exactly.
    */
  def nbQuality(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nbQualityScores(docs)
      .select(col("label"),
        when(col("s_clean") >= col("s_junk"), lit("clean")).otherwise(lit("junk"))
          .as("predicted"))
      .groupBy("label", "predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "predicted")

  /** Per-holdout-doc NB class scores (log-probabilities), the stage behind
    * [[nbQuality]]'s confusion rollup — exposed so the spec can assert the
    * decision MARGINS, not just the argmax (the hash-safety argument above
    * rests on margins being orders of magnitude above libm ulps).
    */
  def nbQualityScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val snip = element_at(
      array(SpamSnippets.map(lit): _*),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val labeled = docs.select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 1, lit("junk")).otherwise(lit("clean")).as("label"),
      when(pmod(col("doc_id"), lit(2)) === 1, concat(col("text"), lit(" "), snip))
        .otherwise(col("text")).as("text"))
    val train = labeled.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val holdout = labeled.filter(pmod(col("doc_id"), lit(5)) === 0)

    // ONE pass over train tokens: per-(label, token) occurrence counts
    val tokCounts = train
      .select(col("label"), explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy("label", "tok").agg(count(lit(1)).as("n"))
    // per-token row: clean/junk counts side by side (the scoring join's
    // build side — vocabulary-sized, broadcastable at any corpus scale)
    val tokTable = tokCounts.groupBy("tok").agg(
      sum(when(col("label") === "clean", col("n")).otherwise(0L)).as("n_clean"),
      sum(when(col("label") === "junk", col("n")).otherwise(0L)).as("n_junk"))
    // scalar model constants: class token totals, vocab size, doc priors
    val consts = tokCounts.agg(
      sum(when(col("label") === "clean", col("n")).otherwise(0L)).as("tot_clean"),
      sum(when(col("label") === "junk", col("n")).otherwise(0L)).as("tot_junk"),
      countDistinct(col("tok")).as("v"))
      .crossJoin(train.agg(
        sum(when(col("label") === "clean", 1L).otherwise(0L)).as("docs_clean"),
        sum(when(col("label") === "junk", 1L).otherwise(0L)).as("docs_junk")))

    holdout
      .select(col("doc_id"), col("label"), explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy("doc_id", "label", "tok").agg(count(lit(1)).as("cnt"))
      .join(broadcast(tokTable), Seq("tok"), "left")
      .crossJoin(broadcast(consts))
      .groupBy("doc_id", "label")
      .agg(
        (first(log(col("docs_clean").cast("double") / (col("docs_clean") + col("docs_junk")))) +
          sum(col("cnt") * log(
            (coalesce(col("n_clean"), lit(0L)) + 1).cast("double") /
              (col("tot_clean") + col("v"))))).as("s_clean"),
        (first(log(col("docs_junk").cast("double") / (col("docs_clean") + col("docs_junk")))) +
          sum(col("cnt") * log(
            (coalesce(col("n_junk"), lit(0L)) + 1).cast("double") /
              (col("tot_junk") + col("v"))))).as("s_junk"))
  }

  /** q59's oracle, shared with its hashed twin q68: the twin's output is
    * row-identical (CurationSpec pins it), so the same ANSI statement
    * oracles both — DuckDB never needs to reproduce the XXH64 keys, only
    * the final per-doc counts.
    */
  private val decontamOracleSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 3),
      |                             i -> array_to_string(toks[i:i+4], ' ')) END AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < 20),
      |tr AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM sh
      |       WHERE doc_id >= 20)
      |SELECT tr.doc_id, COUNT(*) AS n_shared
      |FROM tr JOIN ev ON tr.g = ev.g
      |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin

  /** Temperature-weighted mixture rebalance — the α-generalization of
    * q108's equal-token solve (the "sampling temperature" reweighting of
    * DoReMi/Chinchilla-style data recipes): keep-rate_s ∝ toks_s^(α−1),
    * normalized so the SMALLEST source keeps everything. α=0 reproduces
    * q108's equal-token target exactly (rate = mintoks/toks, same floating
    * association so the rates are bit-identical — CurationSpec pins it);
    * α=1 is the natural distribution (rate 1 everywhere, a no-op); α in
    * between downweights big sources progressively less aggressively.
    *
    * Rates are integer BASIS POINTS (floored — cross-engine exact) applied
    * by the q49/q57 deterministic doc-hash (a retried task re-deals
    * identical samples; never `rand()`). The registered form is α=0.5
    * because √x is IEEE-correctly-rounded in BOTH engines (hardware sqrt),
    * so `floor(10000·√(mintoks/toks))` hash-checks cross-engine; arbitrary
    * α goes through libm `pow`, whose last ulp is engine-dependent — fine
    * for production use, not for a hash oracle.
    *
    * Scale shape is q108's unchanged: the solve is a source-sized
    * aggregate broadcast back; the apply is a codegen filter over a
    * pruned second scan — no corpus-wide shuffle.
    */
  def temperatureMixture(
      docs: org.apache.spark.sql.DataFrame,
      alpha: Double): org.apache.spark.sql.DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"temperature alpha must be in [0,1], got $alpha")
    val t = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ", -1)).cast("long").as("n"))
    val totals = t.groupBy("source")
      .agg(count(lit(1)).as("n_total"), sum("n").as("toks"))
    val ratio = col("mintoks").cast("double") / col("toks")
    val rate =
      if (alpha == 0.0) lit(10000.0) * col("mintoks") / col("toks") // q108's exact association
      else if (alpha == 0.5) lit(10000.0) * sqrt(ratio)
      else if (alpha == 1.0) lit(10000.0)
      else lit(10000.0) * pow(ratio, lit(1.0 - alpha))
    val rates = totals
      .crossJoin(broadcast(totals.agg(min("toks").as("mintoks"))))
      .select(col("source"), floor(rate).cast("long").as("rate_bp"))
    val kept =
      pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L)) <
        col("rate_bp")
    t.join(broadcast(rates), "source")
      .select(col("source"), col("n"), col("rate_bp"),
        when(kept, 1L).otherwise(0L).as("kept"))
      .groupBy("source")
      .agg(
        min("rate_bp").as("rate_bp"),
        count(lit(1)).as("n_total"),
        sum(col("n")).cast("long").as("total_tokens"),
        sum(col("kept")).cast("long").as("n_kept"),
        sum(col("kept") * col("n")).cast("long").as("kept_tokens"))
      .orderBy("source")
  }

  /** q135: MIXTURE TEMPERATURE SWEEP — the q130 calibration idea applied
    * to the sampling temperature: before committing a data recipe to one
    * α, sweep the q109 rate solve across the α grid and see every
    * source's keep-rate and actual token yield side by side — the table
    * a recipe owner reads to pick the flatness/fidelity trade.
    *
    * The grid is {0, 0.25, 0.5, 0.75, 1} — exactly the α values whose
    * rates are IEEE-bit-exact cross-engine WITHOUT a libm `pow` (pow is
    * not correctly-rounded, so engines may differ in the last ulp;
    * sqrt IS): ratio^(1-α) for those α is a composition of exact sqrts —
    * ratio, sqrt(ratio)·sqrt(sqrt(ratio)), sqrt(ratio),
    * sqrt(sqrt(ratio)), 1. The floored basis-point rates therefore
    * hash-check, as do the kept counts (the q57 deterministic doc-hash).
    *
    * Plan shape: ONE corpus scan for per-doc tokens; the 5-rates-per-
    * source table (sources × 5 rows) broadcasts back — the ×5 fan-out is
    * bounded by the grid (the q106 class-fanout precedent), and the
    * rollup collapses map-side. Sweeping 50 α values would still cost
    * the same single scan.
    */
  def mixtureSweep(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ", -1)).cast("long").as("n"))
    val totals = t.groupBy("source").agg(sum("n").as("toks"))
    val ratio = col("mintoks").cast("double") / col("toks")
    def bp(rate: org.apache.spark.sql.Column) = floor(rate).cast("long")
    val rates = totals
      .crossJoin(broadcast(totals.agg(min("toks").as("mintoks"))))
      .select(col("source"), explode(array(
        struct(lit(0L).as("alpha_bp"),
          bp(lit(10000.0) * col("mintoks") / col("toks")).as("rate_bp")),
        struct(lit(2500L).as("alpha_bp"),
          bp(lit(10000.0) * (sqrt(ratio) * sqrt(sqrt(ratio)))).as("rate_bp")),
        struct(lit(5000L).as("alpha_bp"),
          bp(lit(10000.0) * sqrt(ratio)).as("rate_bp")),
        struct(lit(7500L).as("alpha_bp"),
          bp(lit(10000.0) * sqrt(sqrt(ratio))).as("rate_bp")),
        struct(lit(10000L).as("alpha_bp"),
          lit(10000L).as("rate_bp")))).as("a"))
      .select(col("source"), col("a.alpha_bp").as("alpha_bp"),
        col("a.rate_bp").as("rate_bp"))
    val kept =
      pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L)) <
        col("rate_bp")
    t.join(broadcast(rates), "source")
      .select(col("alpha_bp"), col("source"), col("rate_bp"), col("n"),
        when(kept, 1L).otherwise(0L).as("kept"))
      .groupBy("alpha_bp", "source")
      .agg(
        min("rate_bp").as("rate_bp"),
        count(lit(1)).as("n_total"),
        sum(col("n")).cast("long").as("total_tokens"),
        sum(col("kept")).cast("long").as("n_kept"),
        sum(col("kept") * col("n")).cast("long").as("kept_tokens"))
      .orderBy("alpha_bp", "source")
  }

  /** q115: ADAPTIVE per-source quality filtering (the FineWeb refinement of
    * a global cutoff) — keep the top `keepFraction` of each source by
    * quality score, with the threshold solved PER SOURCE: a single global
    * cutoff over-filters clean-but-plain domains and under-filters spammy
    * ones, so production filters re-derive the cutoff inside each stratum.
    * Semantics: the smallest per-source keep-set of size >=
    * ceil(keepFraction * n_source) under score-descending order; boundary
    * ties are ALL kept (determinism without an arbitrary intra-tie pick —
    * re-deal-stable under task retries by construction, nothing random).
    *
    * SCALE SHAPE — the naive form is `percent_rank() OVER (PARTITION BY
    * source ORDER BY score)`: with O(10) sources that serializes the whole
    * corpus through O(10) reducer tasks. This form never windows the
    * corpus. The score is INTEGER (per-mille non-space density, bounded
    * [0, 1000]), so a per-(source, score) HISTOGRAM — <= 1001 rows per
    * source after map-side partial aggregation — carries everything the
    * threshold needs; the only window runs over that tiny histogram, and
    * the per-source thresholds broadcast back into a codegen'd comparison
    * on a second pruned scan. Two linear scans, no corpus-wide shuffle,
    * no skew exposure however unbalanced the sources are.
    */
  /** The shared integer quality signal of q115/q118: per-mille non-space
    * density. INTEGER (bounded [0,1000]) on purpose — that is what makes
    * the histogram-threshold trick work at scale (a bounded-cardinality
    * score compresses any corpus to a tiny exact histogram). Floors
    * through exact small-integer double ops — bit-identical cross-engine
    * (operands < 2^53, one multiply + divide).
    */
  private def densityScore(t: org.apache.spark.sql.Column) =
    floor(lit(1000.0) * length(replace(t, lit(" "), lit(""))) / length(t))

  def adaptiveQualityFilter(
      docs: org.apache.spark.sql.DataFrame,
      keepFraction: Double = 0.7): org.apache.spark.sql.DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction must be in (0,1], got $keepFraction")
    val t = col("text")
    val sc = docs.filter(length(t) > 0)
      .select(col("doc_id"), col("source"), densityScore(t).as("score"))
    val hist = sc.groupBy("source", "score").agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy("source").orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("total", sum("n").over(Window.partitionBy("source")))
      .filter(col("cum") >= ceil(lit(keepFraction) * col("total")))
      .groupBy("source").agg(max("score").as("thr"))
    sc.join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"), col("score"), col("thr"),
        (col("score") >= col("thr")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** q121: INCREMENTAL threshold re-solve — the reason q115's score is an
    * integer histogram, cashed in: the per-(source, score) histogram is a
    * MERGEABLE SUFFICIENT STATISTIC for the threshold solve, so a daily
    * batch updates the thresholds by (1) histogramming ONLY the batch,
    * (2) summing it into the stored day-N histogram (≤1001 rows/source),
    * (3) re-running the tiny-histogram solve. No recall argument, no
    * approximation: count addition is exact, so the incremental solve
    * EQUALS the from-scratch solve over corpus ∪ batch — which is what
    * the oracle checks (the q110/q112/q113 incremental-equals-rebuild
    * contract, here for a statistic rather than a graph). Plan shape:
    * one pruned batch scan + a kilobyte artifact scan + the histogram
    * window — O(batch) per day however big the corpus has grown.
    *
    * The stored artifact follows the band-index staleness rules
    * ([[graft.queries.DedupStore.indexPathFor]] precedent): a warm store
    * keyed by the kernel version and the corpus content.
    */
  def incrementalThresholds(
      stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      keepFraction: Double = 0.7): org.apache.spark.sql.DataFrame =
    incrementalThresholdsFromHist(stored, scoreHistogram(batch), keepFraction)

  /** [[incrementalThresholds]] over an already-computed batch histogram —
    * the form a multi-gauge consumer (q136) uses so ONE batch scan feeds
    * every histogram-derived gauge.
    */
  def incrementalThresholdsFromHist(
      stored: org.apache.spark.sql.DataFrame,
      batchHist: org.apache.spark.sql.DataFrame,
      keepFraction: Double = 0.7): org.apache.spark.sql.DataFrame = {
    val merged = stored.select(col("source"), col("score"), col("n"))
      .union(batchHist.select(col("source"), col("score"), col("n")))
      .groupBy("source", "score").agg(sum("n").as("n"))
    val wCum = Window.partitionBy("source").orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("total", sum("n").over(Window.partitionBy("source")))
      .filter(col("cum") >= ceil(lit(keepFraction) * col("total")))
      .groupBy("source")
      // total is constant within a source (window over the full partition)
      .agg(max("total").as("n_total"), max("score").as("thr"))
      .select(col("source"), col("n_total"), col("thr"))
      .orderBy("source")
  }

  /** q123: per-source DRIFT MONITOR — the ops check a daily ingest needs
    * next to the incremental dedup/export/threshold steps: did a source's
    * quality DISTRIBUTION shift between the stored day-N histogram and
    * today's batch? Distance is total-variation-style L1 between the two
    * normalized score histograms, computed INTEGER-EXACTLY by cross-
    * multiplication (|c0/n0 − c1/n1| summed = Σ|c0·n1 − c1·n0| / (n0·n1),
    * so only the integer numerator and denominator are materialized —
    * hash-identical cross-engine, no float accumulation order to argue
    * about). `status`: 'new' (source absent from the store), 'stale'
    * (absent from the batch), 'drift' when L1 > 1/2 (i.e. total variation
    * > 1/4 — the alarm threshold a recipe owner tunes), else 'ok'.
    * Cost: two tiny histograms full-outer-joined — O(batch) + the
    * kilobyte artifact, nothing corpus-sized.
    */
  def driftMonitor(
      stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    driftMonitorFromHist(stored, scoreHistogram(batch))

  /** [[driftMonitor]] over an already-computed batch histogram (the q136
    * one-scan form). */
  def driftMonitorFromHist(
      stored: org.apache.spark.sql.DataFrame,
      batchHist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val b = batchHist
      .select(col("source"), col("score"), col("n").as("n1"))
    val j = stored.select(col("source"), col("score"), col("n").as("n0"))
      .join(b, Seq("source", "score"), "full_outer")
      .select(col("source"), col("score"),
        coalesce(col("n0"), lit(0L)).as("c0"),
        coalesce(col("n1"), lit(0L)).as("c1"))
    val totals = j.groupBy("source").agg(
      sum(col("c0")).cast("long").as("n_base"),
      sum(col("c1")).cast("long").as("n_batch"))
    j.join(broadcast(totals), "source")
      .groupBy("source")
      .agg(
        max(col("n_base")).as("n_base"),
        max(col("n_batch")).as("n_batch"),
        sum(abs(col("c0") * col("n_batch") - col("c1") * col("n_base")))
          .cast("long").as("l1_scaled"))
      .select(col("source"), col("n_base"), col("n_batch"), col("l1_scaled"),
        when(col("n_base") === 0, "new")
          .when(col("n_batch") === 0, "stale")
          .when(col("l1_scaled") * 2 > col("n_base") * col("n_batch"), "drift")
          .otherwise("ok").as("status"))
      .orderBy("source")
  }

  /** q137: KOLMOGOROV–SMIRNOV drift — q123's companion with the sup-norm
    * instead of L1: KS = max over scores of |CDF_base − CDF_batch|, the
    * two-sample test statistic with standard critical values. The two
    * gauges alarm on different shapes: a distribution that SHIFTS one
    * bucket sideways moves every CDF level (big KS) while per-bucket
    * overlap can keep L1 moderate; scattered per-bucket noise does the
    * reverse. A recipe owner watches both for the price of one histogram.
    *
    * Integer-exact by the q123 cross-multiplication, applied to the
    * CUMULATIVE counts: ks_scaled = max |cum0·n_batch − cum1·n_base| and
    * the alarm is ks_scaled·4 > n_base·n_batch (KS > 1/4). The cumsum
    * window runs over the ≤1001-row per-source histogram — kilobytes,
    * never the corpus.
    */
  def ksDrift(
      stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val b = scoreHistogram(batch)
      .select(col("source"), col("score"), col("n").as("n1"))
    val j = stored.select(col("source"), col("score"), col("n").as("n0"))
      .join(b, Seq("source", "score"), "full_outer")
      .select(col("source"), col("score"),
        coalesce(col("n0"), lit(0L)).as("c0"),
        coalesce(col("n1"), lit(0L)).as("c1"))
    val wCum = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = j
      .withColumn("cum0", sum("c0").over(wCum))
      .withColumn("cum1", sum("c1").over(wCum))
    val tot = cum.groupBy("source").agg(
      max("cum0").cast("long").as("n_base"),
      max("cum1").cast("long").as("n_batch"))
    cum.join(broadcast(tot), "source")
      .groupBy("source")
      .agg(
        max(col("n_base")).as("n_base"),
        max(col("n_batch")).as("n_batch"),
        max(abs(col("cum0") * col("n_batch") - col("cum1") * col("n_base")))
          .cast("long").as("ks_scaled"))
      .select(col("source"), col("n_base"), col("n_batch"), col("ks_scaled"),
        when(col("n_base") === 0, "new")
          .when(col("n_batch") === 0, "stale")
          .when(col("ks_scaled") * 4 > col("n_base") * col("n_batch"), "drift")
          .otherwise("ok").as("status"))
      .orderBy("source")
  }

  /** q124: CONTENT NOVELTY — the third daily-ops gauge next to drift
    * (q123) and thresholds (q121): what fraction of today's batch is new
    * CONTENT, measured at 5-gram window granularity against the stored
    * corpus window set. A crawl re-fetching yesterday's web scores near
    * zero here long before dedup runs; a genuinely fresh source scores
    * near 10000 bp — the number a recipe owner watches to decide whether
    * a source still pays for its crawl budget.
    *
    * Plan shape: batch windows explode and DISTINCT per (source, window)
    * — batch-sized; the stored set joins as a LEFT ANTI on the window key
    * (novel = no match). The store is corpus-scale, but it is the
    * STREAMED side of a hash join keyed by the window — never shuffled
    * wholesale, same contract as the q113 fingerprint store. String
    * windows here because the DuckDB oracle must replay them; at 100 TB
    * the 8-byte XXH64 window kernel swaps in with the same plan (the
    * q59 → q68 hashed-twin precedent).
    */
  def contentNovelty(
      storedWindows: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      k: Int = 5): org.apache.spark.sql.DataFrame =
    noveltyOf(
      batch.select(col("source"),
        explode(array_distinct(Text.shinglesSpaceSplit(col("text"), k))).as("g"))
        .distinct(),
      storedWindows)

  /** q133: the HASHED twin of [[contentNovelty]] — the declared 100 TB
    * path (the q59 → q68 precedent): window keys are 8-byte XXH64 values
    * instead of strings, so the store is ~an order of magnitude smaller
    * and the anti-join shuffles longs, with the IDENTICAL plan shape and
    * — absent a 64-bit collision between a batch window and a DIFFERENT
    * stored window, the same astronomically-remote event the q68 tier
    * accepts — identical counts. That identity is what lets q124's
    * string-window oracle hash-check THIS path's values too (CurationSpec
    * pins the twins row-identical on the testdata corpora).
    */
  def hashedContentNovelty(
      storedHashes: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      k: Int = 5): org.apache.spark.sql.DataFrame =
    noveltyOf(
      batch.select(col("source"),
        explode(array_distinct(transform(
          Text.shinglesSpaceSplit(col("text"), k), s => xxhash64(s)))).as("g"))
        .distinct(),
      storedHashes)

  /** Shared gauge core: per-source distinct batch windows (`bw`: source,
    * g) LEFT ANTI the stored window set — the window representation
    * (string vs hashed) is the caller's choice, the join/rollup shape is
    * one definition.
    */
  private def noveltyOf(
      bw: org.apache.spark.sql.DataFrame,
      stored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val counts = bw.groupBy("source").agg(count(lit(1)).as("n_windows"))
    val novel = bw.join(stored.select(col("g")), Seq("g"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    counts.join(novel, Seq("source"), "left")
      .select(col("source"), col("n_windows"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .select(col("source"), col("n_windows"), col("n_novel"),
        floor(lit(10000.0) * col("n_novel") / col("n_windows"))
          .cast("long").as("novelty_bp"))
      .orderBy("source")
  }

  /** The q124 store: the corpus' distinct k-gram window set. */
  def windowStore(docs: org.apache.spark.sql.DataFrame, k: Int = 5): org.apache.spark.sql.DataFrame =
    docs.select(explode(array_distinct(Text.shinglesSpaceSplit(col("text"), k))).as("g"))
      .distinct()

  /** The q133 store: the corpus' distinct XXH64-hashed window set (8
    * bytes per window — the size that makes a 100 TB corpus's window set
    * storable and its anti-join cheap).
    */
  def hashedWindowStore(docs: org.apache.spark.sql.DataFrame, k: Int = 5): org.apache.spark.sql.DataFrame =
    docs.select(explode(array_distinct(transform(
      Text.shinglesSpaceSplit(col("text"), k), s => xxhash64(s)))).as("g"))
      .distinct()

  /** ABSORB a gauged batch into a [[windowStore]] artifact — the q124
    * lifecycle's day-boundary step (the [[graft.queries.Dedup]]
    * appendToExactIndex pattern for windows): only windows the store has
    * never seen append (LEFT ANTI against the stored set), so the store
    * stays DISTINCT by construction and the append cost is O(novel batch
    * windows), never O(store). Idempotent: re-absorbing the same batch
    * appends nothing. Call AFTER reading [[contentNovelty]] for the batch
    * — an absorbed-then-gauged batch would score zero novelty against
    * its own windows.
    */
  def appendToWindowStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String,
      k: Int = 5): Unit =
    // eager snap (the appendToExactIndex pattern): the anti join READS
    // the store the write appends to — materialize the (batch-sized)
    // novel-window set fully before any file lands in the directory being
    // scanned, so a re-executed/retried write stage can never observe its
    // own partial output
    StoreSwap.write(org.apache.spark.sql.graft.shims.snap(windowStore(batch, k)
      .join(spark.read.parquet(path), Seq("g"), "left_anti"), "windows.novel"),
      path, append = true)

  /** One-time day-N window-store materialization (a content-keyed warm
    * store; k rides the path so an incompatible store is never served).
    */
  private def windowStoreFor(
      base: org.apache.spark.sql.DataFrame, dir: String, k: Int = 5): String =
    WarmStores.artifact(base.sparkSession, dir, "documents", "ngram_store", s"k$k")()(
      WarmStores.zstd(windowStore(base, k)))

  /** The REFCOUNTED window store — the retractable variant of
    * [[windowStore]] (q150). Schema `(g, rc)` with `rc` = the number of
    * corpus docs whose distinct k-gram window set contains `g`.
    * [[windowStore]]'s DISTINCT layout makes its absorb deliberately
    * irreversible (q149's `retractBatch` scaladoc had to document it as
    * the one store family that cannot un-absorb): dropping a flagged
    * batch's window rows would also delete windows OTHER docs carry. The
    * per-window doc count is exactly the information an un-absorb needs
    * — shared windows decrement and survive, windows only the batch
    * carried reach zero and disappear. Presence (the set the q124/q133
    * gauges anti-join against) is `SELECT g`: every row's count is
    * positive by the store invariant, so a refcounted store serves
    * [[contentNovelty]] unchanged, duplicate-`g` delta rows included
    * (anti joins don't care about multiplicity).
    */
  def refcountedWindowStore(
      docs: org.apache.spark.sql.DataFrame, k: Int = 5): org.apache.spark.sql.DataFrame =
    docs.select(explode(array_distinct(Text.shinglesSpaceSplit(col("text"), k))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("rc"))

  /** The XXH64-hashed twin of [[refcountedWindowStore]] (q156) — the
    * q133 move for the retractable store: 8-byte window keys make the
    * store ~an order of magnitude smaller and every absorb/retract join
    * shuffle longs instead of strings, with identical counts absent a
    * 64-bit collision (the same astronomically-remote event every hashed
    * tier accepts). [[absorbIntoRefcountedStore]] /
    * [[retractFromRefcountedStore]] take `hashed = true` to build their
    * delta/window sets in this representation — ONE lifecycle
    * definition, two key types, so the twins cannot drift.
    */
  def hashedRefcountedWindowStore(
      docs: org.apache.spark.sql.DataFrame, k: Int = 5): org.apache.spark.sql.DataFrame =
    docs.select(explode(array_distinct(transform(
      Text.shinglesSpaceSplit(col("text"), k), s => xxhash64(s)))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("rc"))

  private def rcStoreOf(
      batch: org.apache.spark.sql.DataFrame, k: Int, hashed: Boolean) =
    if (hashed) hashedRefcountedWindowStore(batch, k)
    else refcountedWindowStore(batch, k)

  /** ABSORB a batch into a refcounted store: blindly append the batch's
    * per-window doc counts as DELTA rows — O(batch) with NO store read at
    * all (cheaper than [[appendToWindowStore]]'s anti join, and no
    * self-read hazard to checkpoint around). The store holds up to one
    * extra row per window per absorb until the next retract or
    * [[compactRefcountedStore]] collapses them; all deltas are positive,
    * so presence ≡ row existence throughout. Absorbs are COUNTED, not
    * idempotent: re-absorbing a batch double-counts it, and each
    * [[retractFromRefcountedStore]] cancels exactly one absorb.
    */
  def absorbIntoRefcountedStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String,
      k: Int = 5,
      hashed: Boolean = false): Unit =
    StoreSwap.write(rcStoreOf(batch, k, hashed), path, append = true)

  /** RETRACT a previously-absorbed batch from a refcounted store — the
    * q149 un-absorb for the window-set family, O(store) I/O but O(touched)
    * shuffle: rows whose window the batch never carried stream through
    * VERBATIM (LEFT ANTI against the batch's window set — scan → filter →
    * write, the store itself is never re-keyed); rows for touched windows
    * — bounded by the batch's window count, not the store — re-sum per
    * window, subtract the batch's doc counts, and survive only above
    * zero. Write-aside → swap (q149's rename pattern), so a concurrent
    * gauge never sees a half-retracted store. Contract, mirroring q149's
    * LIFO clause: each retract must cancel exactly one prior absorb of
    * the SAME batch — retracting a batch never absorbed (or twice) makes
    * shared windows under-count, and counts alone carry no record of it.
    * Pass `onceId` to make that contract ENFORCED instead of caller
    * discipline: the retract stamps a zero-byte witness marker into the
    * store atomically with the swap
    * ([[graft.ops.StoreSwap.rewrite]]), and a re-run bearing
    * the same id — an audit-driven retry, a crashed forget resumed —
    * finds the marker and skips, so the subtract applies exactly once.
    */
  def retractFromRefcountedStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String,
      k: Int = 5,
      broadcastCeiling: Long = graft.queries.Dedup.IncrementalBroadcastCeiling,
      hashed: Boolean = false,
      onceId: Option[String] = None): Unit =
    StoreSwap.rewrite(spark, path, onceId)(
      retractedRefcountedRows(spark, batch, path, k, broadcastCeiling, hashed))

  /** The rows [[retractFromRefcountedStore]] writes, exposed pre-write
    * (the ShardExport.appendAssembly precedent) so PlanShapeSpec can pin
    * the load-bearing shape: below the ceiling the store STREAMS through
    * a broadcast anti join on the untouched branch and only the touched
    * subset (bounded by the batch's window count) re-keys — the store
    * itself is never sort-merge shuffled. The two parquet reads of the
    * store (pass-through + touched) are deliberate: 2× scan I/O on the
    * streamed side beats one scan followed by a corpus-scale exchange.
    */
  private[graft] def retractedRefcountedRows(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String,
      k: Int = 5,
      broadcastCeiling: Long = graft.queries.Dedup.IncrementalBroadcastCeiling,
      hashed: Boolean = false): org.apache.spark.sql.DataFrame = {
    // materialize the batch's window counts once — they drive BOTH joins
    // and must not recompute between the store read and the swap; the
    // snap's measured size also gives the broadcast gate an exact size
    val bw = org.apache.spark.sql.graft.shims.snap(rcStoreOf(batch, k, hashed)
      .select(col("g"), col("rc").as("dn")), "windows.batchCounts")
    val hinted = org.apache.spark.sql.graft.shims.broadcastGate(bw, broadcastCeiling)
    val store = spark.read.parquet(path)
    val untouched = store.join(hinted(bw.select(col("g"))), Seq("g"), "left_anti")
    val touched = store.join(hinted(bw.select(col("g"))), Seq("g"))
      .groupBy("g").agg(sum(col("rc")).as("rc_stored"))
      .join(hinted(bw), Seq("g"))
      .select(col("g"), (col("rc_stored") - col("dn")).as("rc"))
      .filter(col("rc") > 0)
    untouched.select(col("g"), col("rc"))
      .unionByName(touched.select(col("g"), col("rc")))
  }

  /** Warm-reusable FULL-corpus refcounted window store at the ABSORBED
    * state — refcounts are additive, so the one-shot full-corpus build
    * equals base + day-1 + day-2 absorbs compacted (same net count per
    * window; [[retractedRefcountedRows]] re-sums touched windows, so
    * delta-row layout never affects its output). Never mutated by its
    * consumers: the q150/q156 registered retractions are
    * [[retractedRefcountedRows]] probes (the q158 precedent — the
    * store-REWRITING lifecycle is spec-proved in RefcountStoreSpec and
    * LifecycleSpec).
    */
  private def rcFullStoreFor(
      docs: org.apache.spark.sql.DataFrame,
      dir: String,
      hashed: Boolean,
      k: Int = 5): String =
    WarmStores.artifact(docs.sparkSession, dir, "documents", "ngram_store",
      if (hashed) "rcxfull" else "rcfull", s"k$k")()(WarmStores.zstd(rcStoreOf(docs, k, hashed)))

  /** Scheduled maintenance rewrite for a refcounted store (the
    * [[graft.queries.DedupStore.compactBandIndex]] move): collapse the absorb
    * delta rows to one net row per window. Changes nothing a gauge or a
    * retract can observe — presence and net counts are invariant
    * (RefcountStoreSpec pins both) — it only buys back the extra rows
    * and fragmented files absorbs accumulate.
    */
  def compactRefcountedStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20): Unit =
    StoreSwap.rewrite(spark, path) {
      val st = spark.read.parquet(path)
      st.groupBy("g").agg(sum(col("rc")).as("rc"))
        .repartition(graft.ops.Compact.filesFor(st, targetFileBytes), col("g"))
    }

  /** q125: QUALITY ENSEMBLE — fuse several weak quality signals into one
    * rank (the FineWeb-Edu-style move: no single heuristic is trustworthy,
    * their fused percentile is). Signals must be COMPARABLE before
    * summing, so each is transformed to its corpus percentile — and the
    * scale-safe way to compute a percentile is the same histogram trick
    * as q115/q118/q121: each signal is an INTEGER per-mille ratio
    * (bounded [0,1000]), so its exact CDF is a ≤1001-row cumulative
    * histogram, and the per-doc percentile is a broadcast join on the
    * score value — never a global `percent_rank` sort of the corpus.
    * Signals: non-space density, unique-token ratio, stopword ratio
    * (natural prose carries function words; keyword spam doesn't).
    * `fused` = sum of the three per-mille percentiles — ties resolved by
    * value everywhere, no arbitrary intra-tie ordering.
    */
  def qualityEnsemble(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = col("text")
    val toks = split(t, " ", -1)
    val nTok = size(toks).cast("double")
    val stops = Seq("the", "of", "and", "a", "to", "in", "is")
    val scored = docs.filter(length(t) > 0).select(
      col("doc_id"),
      densityScore(t).as("s1"),
      floor(lit(1000.0) * size(array_distinct(toks)) / nTok).as("s2"),
      floor(lit(1000.0) *
        size(filter(toks, x => x.isInCollection(stops))) / nTok).as("s3"))
    val total = scored.count() // one job over a 3-int projection; at scale
    // fold into the first histogram pass instead if the extra scan matters
    def pct(sig: String) = {
      val wCum = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.groupBy(col(sig).as("v")).agg(count(lit(1)).as("n"))
        .withColumn("cum", sum("n").over(wCum))
        .select(col("v").as(sig),
          floor(lit(1000.0) * col("cum") / lit(total.toDouble))
            .as(s"p_$sig"))
    }
    scored
      .join(broadcast(pct("s1")), "s1")
      .join(broadcast(pct("s2")), "s2")
      .join(broadcast(pct("s3")), "s3")
      .select(col("doc_id"), col("p_s1"), col("p_s2"), col("p_s3"),
        (col("p_s1") + col("p_s2") + col("p_s3")).as("fused"))
      .orderBy("doc_id")
  }

  /** q130: THRESHOLD CALIBRATION sweep — the step between training a
    * quality classifier (q88) and deploying a cheap filter (q115): given
    * TRUSTED labels (here the q88 planted-junk convention), sweep the
    * cheap integer signal's threshold and report the confusion counts at
    * every operating point, so a recipe owner picks the precision/recall
    * trade-off with numbers instead of folklore. This is how an expensive
    * classifier gets DISTILLED into a codegen filter: label a sample with
    * the big model, calibrate the cheap signal against it, deploy the
    * threshold.
    *
    * Scale shape — the reason the signal is an integer per-mille: ONE
    * corpus scan builds the ≤2·1001-row (label, score) histogram; the
    * 11-point threshold grid cross-joins THAT, not the corpus, so the
    * whole sweep costs one aggregate however many thresholds are probed.
    * All outputs are integer counts — hash-identical cross-engine.
    */
  def thresholdCalibration(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val snip = element_at(
      array(SpamSnippets.map(lit): _*),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val labeled = docs.select(
      when(pmod(col("doc_id"), lit(2)) === 1, lit("junk"))
        .otherwise(lit("clean")).as("label"),
      when(pmod(col("doc_id"), lit(2)) === 1, concat(col("text"), lit(" "), snip))
        .otherwise(col("text")).as("text"))
    val h = labeled.filter(length(col("text")) > 0)
      .select(col("label"), densityScore(col("text")).as("score"))
      .groupBy("label", "score").agg(count(lit(1)).as("n"))
    val grid = docs.sparkSession.range(0, 11)
      .select((col("id") * 100).as("thr"))
    def cnt(lbl: String, cmp: org.apache.spark.sql.Column) =
      sum(when(col("label") === lbl && cmp, col("n")).otherwise(0L))
    h.crossJoin(broadcast(grid))
      .groupBy("thr")
      .agg(
        cnt("junk", col("score") >= col("thr")).as("tp"),
        cnt("clean", col("score") >= col("thr")).as("fp"),
        cnt("junk", col("score") < col("thr")).as("fn"),
        cnt("clean", col("score") < col("thr")).as("tn"))
      .orderBy("thr")
  }

  /** q139: SAMPLER-UNIFORMITY AUDIT — the QA gauge for the deterministic
    * keep-hash every sampler in this engine relies on (q49/q57/q93/q105/
    * q108/q109/q114/q135 all decide keeps by `knuthHash(doc_id) <
    * rate_bp`): a multiplicative hash fed SEQUENTIAL ids is exactly the
    * adversarial input such hashes are accused of mishandling, and a
    * skewed hash silently biases every mixture rate built on it. The
    * audit buckets the hash value into 10 equal-width cells per source
    * and reports the integer-exact L1 deviation from uniform
    * (Σ|10·n_cell − N| — the q123 cross-multiplication idea with a
    * constant uniform reference), plus the extreme cell counts. A recipe
    * owner alarms when dev_scaled/N drifts from the ~binomial band.
    *
    * One scan → a ≤10-cell-per-source aggregate; all integers.
    */
  def samplerUniformity(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val h = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L))
    val cells = docs
      .select(col("source"), floor(h / 1000).cast("long").as("cell"))
      .groupBy("source", "cell").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("source").agg(sum("n").cast("long").as("n_docs"))
    // densify to the FULL 10-cell grid per source — an EMPTY cell is the
    // strongest possible non-uniformity signal and must contribute its
    // full |0 − N| deviation, not silently drop out of the aggregate
    val grid = tot.crossJoin(
      broadcast(docs.sparkSession.range(0, 10).select(col("id").as("cell"))))
    grid.join(cells, Seq("source", "cell"), "left")
      .select(col("source"), col("n_docs"), coalesce(col("n"), lit(0L)).as("n"))
      .groupBy("source")
      .agg(
        max(col("n_docs")).as("n_docs"),
        sum(abs(col("n") * 10 - col("n_docs"))).cast("long").as("dev_scaled"),
        min(col("n")).cast("long").as("min_cell"),
        max(col("n")).cast("long").as("max_cell"))
      .orderBy("source")
  }

  /** q136: DAILY OPS REPORT — the morning dashboard a pipeline owner
    * reads before promoting a day's batch, composed from the three
    * stand-alone gauges over the SAME stored artifacts (one histogram
    * store feeds drift + thresholds; the window store feeds novelty):
    * per source — drift status + populations (q123), content novelty
    * (q124), and the re-solved quality threshold (q121). Composition is
    * the point (the q74/q111 precedent): the numbers that gate the batch
    * must be THE SAME numbers the stand-alone gauges report, which the
    * oracle proves by replaying all three chains into one joined result.
    *
    * The gauge outputs are source-sized, so the composing joins are
    * broadcast-trivial; the batch is scanned once per gauge (a daily
    * report over a day's batch — fuse into one scan if the day is huge).
    * `-1` stands in for gauges a source legitimately lacks (a stale
    * source has no batch windows to measure novelty on).
    */
  def dailyOpsReport(
      storedHist: org.apache.spark.sql.DataFrame,
      storedWindows: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // One batch-histogram DEFINITION feeds both histogram-derived gauges
    // (drift + thresholds). In production the day's batch histogram is
    // materialized anyway — it is the artifact q121's absorb step stores
    // — so both gauges read kilobytes; here the plan is passed through
    // and AQE's exchange reuse consolidates the duplicated subtrees at
    // runtime.
    val batchHist = scoreHistogram(batch)
    driftMonitorFromHist(storedHist, batchHist)
      .join(contentNovelty(storedWindows, batch)
        .select(col("source"), col("novelty_bp")), Seq("source"), "left")
      .join(incrementalThresholdsFromHist(storedHist, batchHist)
        .select(col("source"), col("thr")), Seq("source"), "left")
      .select(col("source"), col("status"), col("n_base"), col("n_batch"),
        coalesce(col("novelty_bp"), lit(-1L)).as("novelty_bp"),
        coalesce(col("thr"), lit(-1L)).as("thr"))
      .orderBy("source")
  }

  /** q132: CORPUS SNAPSHOT DIFF — the data-versioning gauge between two
    * corpus snapshots (yesterday's publication vs today's): per source,
    * how many docs are unchanged / changed (same id, different content
    * fingerprint) / removed / added. The number a pipeline owner checks
    * before re-running downstream stages — a 2% changed-rate re-triggers
    * incremental dedup; a 40% removed-rate means an upstream accident.
    *
    * Scale shape: fingerprints (md5) are computed MAP-SIDE on each
    * snapshot's own scan, so the full-outer reconcile join shuffles only
    * (doc_id, fp) — ~40 bytes/doc, never the text. That join is the
    * honest cost of an id-keyed diff; everything after is a source-sized
    * aggregate.
    */
  def snapshotDiff(
      v0: org.apache.spark.sql.DataFrame,
      v1: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = v0.select(col("doc_id"), col("source").as("src0"), md5(col("text")).as("fp0"))
    val b = v1.select(col("doc_id"), col("source").as("src1"), md5(col("text")).as("fp1"))
    def cnt(st: String) =
      sum(when(col("st") === st, 1L).otherwise(0L)).as(s"n_$st")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src0"), col("src1")).as("source"),
        when(col("fp1").isNull, "removed")
          .when(col("fp0").isNull, "added")
          .when(col("fp0") =!= col("fp1"), "changed")
          .otherwise("unchanged").as("st"))
      .groupBy("source")
      .agg(cnt("unchanged"), cnt("changed"), cnt("removed"), cnt("added"))
      .orderBy("source")
  }

  /** q140: CDC APPLY — the write side of q132's diff: fold a change feed
    * (rows tagged `upsert` — replace-by-id or insert — and `delete`)
    * into the stored snapshot. The id-keyed LEFT ANTI + union is the
    * canonical merge shape: the snapshot streams once against the
    * (small) change-id set, nothing corpus-sized re-sorts. At 100 TB the
    * physical write would be partition-overwrite (rewrite only the
    * partitions the feed touches) or a table format's MERGE — this is
    * the logical plan both lower to.
    *
    * Feed contract (the standard CDC precondition): at most one
    * operation per doc_id per application — a feed carrying two upserts
    * of one id would insert both rows. Feeds violating it should be
    * collapsed to last-write-wins upstream (a max-by-sequence aggregate)
    * before applying.
    */
  def applyChanges(
      v0: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ups = changes.filter(col("op") === "upsert")
      .select(col("doc_id"), col("source"), col("text"))
    val touched = changes.select(col("doc_id")).distinct()
    v0.select(col("doc_id"), col("source"), col("text"))
      .join(touched, Seq("doc_id"), "left_anti")
      .unionByName(ups)
  }

  /** q142: ENSEMBLE-BASED ADAPTIVE FILTER — the two proven halves of a
    * modern curation filter composed into the thing a pipeline deploys:
    * q125's fused multi-signal percentile (no single heuristic is
    * trustworthy; the fused rank is) as the quality metric, q115's
    * per-source exact-histogram threshold solve as the keep rule (a
    * global cutoff over-filters plain-but-clean domains). Keep the top
    * `keepFraction` of each source by fused score, boundary ties all
    * kept (q115's determinism rule).
    *
    * Scale shape inherits both parents: the fused score is bounded
    * integer [0, 3000], so the per-source solve is a ≤3001-row histogram
    * + broadcast-back — never a corpus-keyed window; the ensemble side
    * is q125's plan unchanged.
    */
  def ensembleFilter(
      docs: org.apache.spark.sql.DataFrame,
      keepFraction: Double = 0.7): org.apache.spark.sql.DataFrame = {
    val fused = qualityEnsemble(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("fused"))
    val wCum = Window.partitionBy("source").orderBy(col("fused").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = fused.groupBy("source", "fused").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("total", sum("n").over(Window.partitionBy("source")))
      .filter(col("cum") >= ceil(lit(keepFraction) * col("total")))
      .groupBy("source").agg(max("fused").as("thr"))
    fused.join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"), col("fused"), col("thr"),
        (col("fused") >= col("thr")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** The q115/q121 sufficient statistic: per-(source, score) doc counts. */
  def scoreHistogram(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = col("text")
    docs.filter(length(t) > 0)
      .select(col("source"), densityScore(t).as("score"))
      .groupBy("source", "score").agg(count(lit(1)).as("n"))
  }

  /** Artifact path for a corpus dir's quality histogram — kernel-versioned
    * like [[graft.queries.DedupStore.indexPathFor]] so a score-definition change
    * can never warm-reuse an incompatible artifact.
    */
  def histogramPathFor(dir: String, kernelVersion: Int = 1): String =
    WarmStores.key(dir, "qhist", s"v$kernelVersion")

  /** One-time day-N histogram materialization (a content-keyed warm
    * store at [[histogramPathFor]]'s root — the [[graft.queries.DedupStore]]
    * band-index policy verbatim).
    */
  private def histogramIndexFor(
      base: org.apache.spark.sql.DataFrame, dir: String): String =
    WarmStores.artifact(base.sparkSession, dir, "documents", "qhist", "v1")()(
      WarmStores.zstd(scoreHistogram(base)))

  /** ABSORB a batch into a stored [[scoreHistogram]] artifact — q121's
    * "(2) summing it into the stored day-N histogram" step materialized
    * as a store mutation. Counts are a mergeable sufficient statistic,
    * so absorb = read, add, write-aside → swap: the store stays one
    * EXACT row per (source, score) — ≤1001 rows per source, kilobytes
    * of I/O — and the only corpus-touching work is the batch's own
    * histogram scan. Like the refcounted window store's absorb, this is
    * COUNTED, not idempotent: each absorb adds its batch once, and each
    * [[retractFromHistogramStore]] cancels exactly one absorb.
    */
  def absorbIntoHistogramStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    StoreSwap.rewrite(spark, path)(
      spark.read.parquet(path).select(col("source"), col("score"), col("n"))
        .union(scoreHistogram(batch).select(col("source"), col("score"), col("n")))
        .groupBy("source", "score").agg(sum("n").as("n")))

  /** RETRACT a previously-absorbed batch from a stored histogram — the
    * count-subtraction un-absorb q149's sibling-store scaladoc promised
    * for this family. Exact by the same mergeable-statistic argument as
    * the absorb (subtraction is the inverse of addition — no recall
    * argument, no approximation); rows whose count reaches zero drop,
    * and a NEGATIVE net raises at execution time (`raise_error`, the
    * q107-guard house pattern) instead of writing a corrupt store —
    * unlike the corpus-scale q150 store, this one is small enough to
    * afford the loud contract check, so retracting a batch that was
    * never absorbed fails instead of silently under-counting. `onceId`
    * additionally makes a REPEATED retract of the same forget a no-op
    * (the witness-marker contract — see [[retractFromRefcountedStore]]),
    * closing the double-subtract that the underflow guard only catches
    * when a count happens to cross zero.
    */
  def retractFromHistogramStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String,
      onceId: Option[String] = None): Unit =
    StoreSwap.rewrite(spark, path, onceId)(retractedHistogramRows(spark.read.parquet(path), batch))

  /** The rows [[retractFromHistogramStore]] writes, exposed pre-write (the
    * [[retractedRefcountedRows]] precedent): the retracted store as a pure
    * view over the live store — what a PROBE-form registration measures
    * without mutating anything.
    */
  private[graft] def retractedHistogramRows(
      store: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    store.select(col("source"), col("score"), col("n"))
      .union(scoreHistogram(batch)
        .select(col("source"), col("score"), (-col("n")).as("n")))
      .groupBy("source", "score").agg(sum("n").as("n"))
      .select(col("source"), col("score"),
        when(col("n") < 0, raise_error(concat(
          lit("histogram retract underflow (batch never absorbed?) at "),
          col("source"), lit(":"), col("score").cast("string"))))
          .otherwise(col("n")).as("n"))
      .filter(col("n") > 0)

  /** q118: CURRICULUM staging — partition the corpus into `stages` global
    * quality quantiles (ascending [[densityScore]]), the scheduling input
    * for quality-ordered training (feed stage 1 early, stage `stages`
    * late, or the reverse — the manifest is direction-agnostic). Stage
    * boundaries come from the SAME histogram trick as q115, globally: an
    * exact ≤1001-row score histogram replaces `ntile() OVER (ORDER BY
    * score)`, which would serialize the whole corpus through ONE reducer
    * at 100 TB. Boundary b_k = min score whose ascending cumulative count
    * reaches ceil(k·n/stages); stage = 1 + #{boundaries strictly below
    * the score}, so equal scores always share a stage (deterministic,
    * quantile-exact up to boundary ties). The one window here runs over
    * the histogram — bounded rows, single-partition by design.
    */
  def curriculumStages(
      docs: org.apache.spark.sql.DataFrame,
      stages: Int = 4): org.apache.spark.sql.DataFrame = {
    require(stages >= 2 && stages <= 100, s"stages must be in [2,100], got $stages")
    val t = col("text")
    val sc = docs.filter(length(t) > 0)
      .select(col("doc_id"), densityScore(t).as("score"))
    val h = sc.groupBy("score").agg(count(lit(1)).as("n"))
    val wc = Window.orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = h
      .crossJoin(broadcast(h.agg(sum("n").as("total"))))
      .withColumn("cum", sum("n").over(wc))
    val boundCols = (1 until stages).map { k =>
      min(when(
        col("cum") >= ceil(lit(k.toDouble) * col("total") / lit(stages.toDouble)),
        col("score"))).as(s"b$k")
    }
    val b = c.agg(boundCols.head, boundCols.tail: _*)
    val stageCol = (1 until stages)
      .map(k => when(col("score") > col(s"b$k"), 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    sc.crossJoin(broadcast(b))
      .select(col("doc_id"), col("score"), stageCol.cast("int").as("stage"))
      .orderBy("doc_id")
  }

  /** q119: DATA-CONSTRAINED epoch allocation — the UP-sampling regime the
    * mixture solvers (q108/q109) don't cover. Those solve keep-RATES ≤ 1;
    * when the token budget EXCEEDS the corpus, a source is instead
    * REPEATED for multiple epochs, and repeating indefinitely stops
    * helping (Muennighoff et al., "Scaling Data-Constrained Language
    * Models", 2023 — repeated tokens decay in value, hence the epoch
    * cap). One-shot allocation: each source's target is the equal share
    * `budget / n_sources` (floored); it contributes
    * `alloc = min(maxEpochs · toks_s, target)` tokens — the cap binds for
    * small sources, which show a `shortfall` (redistribution of shortfall
    * is a deliberate second pass at the recipe level, not hidden here).
    * `epochs_bp` is the resulting repeat factor in floored basis points —
    * > 10000 means genuine multi-epoch repetition. All integer
    * arithmetic; one source-sized aggregate, no corpus shuffle — the
    * apply step is the q57/q108 deterministic doc-hash against
    * `epochs_bp` (floor(epochs) full passes + one hash-sampled partial
    * pass), unchanged at 100 TB.
    */
  def epochAllocation(
      docs: org.apache.spark.sql.DataFrame,
      budget: Long,
      maxEpochs: Int = 4): org.apache.spark.sql.DataFrame = {
    require(budget > 0 && maxEpochs >= 1, s"bad budget=$budget maxEpochs=$maxEpochs")
    val t = docs.select(col("source"),
      size(split(col("text"), " ", -1)).cast("long").as("n"))
    val totals = t.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("toks"))
    val target = floor(lit(budget) / col("n_sources")).cast("long")
    val alloc = least(lit(maxEpochs.toLong) * col("toks"), col("target"))
    totals
      .crossJoin(broadcast(totals.agg(count(lit(1)).as("n_sources"))))
      .withColumn("target", target)
      .select(col("source"), col("n_docs"), col("toks"), col("target"),
        alloc.as("alloc_toks"))
      .select(col("source"), col("n_docs"), col("toks"), col("alloc_toks"),
        // the q108 floored-double convention: both engines run the same
        // IEEE double multiply+divide, so the floor is hash-identical
        floor(lit(10000.0) * col("alloc_toks") / col("toks")).cast("long").as("epochs_bp"),
        (col("target") - col("alloc_toks")).cast("long").as("shortfall"))
      .orderBy("source")
  }

  /** Epoch-week bucket: pure integer arithmetic, identical in both engines. */
  private def epochWeek = floor(unix_micros(col("ts")) / lit(604800000000L)).cast("long")

  /** q61's SINGLE-PASS form (the q60 pattern): both per-user facts —
    * min(signup week) and the distinct purchase-week set — in one
    * conditional aggregate over ONE events scan, then the bounded week set
    * explodes. One user-keyed exchange, no join; collect_set partials
    * collapse map-side so the exchange carries per-user week sets, never
    * raw purchase rows. See PLANS.md § "q61 settled" for the measured
    * crossover against [[cohortChained]].
    */
  def cohortSinglePass(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.select(col("user_id"), col("event_type"), epochWeek.as("w"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("w"))).as("w0"),
        collect_set(when(col("event_type") === "purchase", col("w"))).as("pws"))
      .filter(col("w0").isNotNull)
      .select(col("w0"), explode(col("pws")).as("wk_abs"))
      .select(col("w0"), (col("wk_abs") - col("w0")).as("wk"))
      .filter(col("wk").between(0, 4))
      .groupBy(col("w0").as("cohort_week"), col("wk").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")

  /** q61's CHAINED-JOIN form (the pre-round-9 shape): signup slice →
    * per-user cohort week, purchase slice joined back on user_id. Two
    * events scans, but each slice filter pushes to parquet and the rows
    * entering the aggregate/join are only the two slices — cheaper when
    * signup+purchase are a small fraction of events (this corpus: ~27%)
    * and the scan is fast (local NVMe); the single-pass form wins when
    * the scan itself dominates (remote object storage at 100 TB).
    */
  def cohortChained(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val su = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), epochWeek.as("w"))
      .groupBy("user_id").agg(min("w").as("w0"))
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), epochWeek.as("wk_abs"))
      .join(su, "user_id")
      .select(col("user_id"), col("w0"), (col("wk_abs") - col("w0")).as("wk"))
      .filter(col("wk").between(0, 4))
      .distinct()
      .groupBy(col("w0").as("cohort_week"), col("wk").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Shared oracle: the q124 novelty replay (string windows, store =
    * doc_id%5≠0, batch = %5==0). Five consumers, one definition: q124
    * (direct store), q131 (absorbed store ≡ rebuild), q133 (hashed twin
    * — identical counts absent a 64-bit window collision), q150
    * (absorb∘absorb∘retract ≡ rebuild, the refcounted store), q156 (the
    * hashed refcounted twin — both arguments at once).
    */
  private val NoveltyOracleSql =
    """WITH sh AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 3),
      |                             i -> array_to_string(toks[i:i+4], ' ')) END AS sh
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)),
      |st AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 5 <> 0),
      |bw AS (SELECT DISTINCT source, unnest(sh) AS g FROM sh WHERE doc_id % 5 = 0),
      |n AS (SELECT source, COUNT(*) AS n_windows FROM bw GROUP BY source),
      |nv AS (SELECT bw.source, COUNT(*) AS n_novel
      |       FROM bw LEFT JOIN st ON st.g = bw.g
      |       WHERE st.g IS NULL GROUP BY bw.source)
      |SELECT n.source, n.n_windows, COALESCE(nv.n_novel, 0) AS n_novel,
      |  CAST(FLOOR(10000.0 * COALESCE(nv.n_novel, 0) / n.n_windows) AS BIGINT)
      |    AS novelty_bp
      |FROM n LEFT JOIN nv ON nv.source = n.source
      |ORDER BY n.source""".stripMargin

  /** Shared oracle: the q115/q121 from-scratch threshold solve over the
    * WHOLE corpus (stored %5≠0 histogram + %5==0 batch). Two consumers,
    * one definition: q121 (absorbed-at-query merge ≡ rebuild), q152
    * (absorb∘absorb∘retract store ≡ rebuild — the count-subtraction
    * mirror).
    */
  private val ThresholdOracleSql =
    """WITH sc AS (
      |  SELECT doc_id, source,
      |    CAST(FLOOR(1000.0 * LENGTH(REPLACE(text, ' ', '')) / LENGTH(text))
      |         AS BIGINT) AS score
      |  FROM documents WHERE LENGTH(text) > 0),
      |h AS (SELECT source, score, COUNT(*) AS n FROM sc GROUP BY source, score),
      |c AS (SELECT source, score, n,
      |        SUM(n) OVER (PARTITION BY source ORDER BY score DESC
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        SUM(n) OVER (PARTITION BY source) AS total
      |      FROM h)
      |SELECT source, CAST(MAX(total) AS BIGINT) AS n_total, MAX(score) AS thr
      |FROM c
      |WHERE cum >= CEIL(0.7 * total)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Shared oracle: q125's ensemble chain up to the per-doc percentiles
    * and fused score (CTE `ens`, no ORDER BY). Two consumers — q125
    * selects it directly, q142 extends it with the per-source threshold
    * solve — one fusion definition, two hash checks.
    */
  private val EnsembleCteSql =
    """tk AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks
      |  FROM documents WHERE LENGTH(text) > 0),
      |sc AS (SELECT doc_id,
      |    CAST(FLOOR(1000.0 * LENGTH(REPLACE(text, ' ', '')) / LENGTH(text))
      |         AS BIGINT) AS s1,
      |    CAST(FLOOR(1000.0 * len(list_distinct(toks)) / len(toks))
      |         AS BIGINT) AS s2,
      |    CAST(FLOOR(1000.0 * len(list_filter(toks,
      |           x -> x IN ('the','of','and','a','to','in','is'))) / len(toks))
      |         AS BIGINT) AS s3
      |  FROM tk),
      |n AS (SELECT COUNT(*) AS total FROM sc),
      |c1 AS (SELECT s1 AS v, SUM(COUNT(*)) OVER (ORDER BY s1 ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM sc GROUP BY s1),
      |c2 AS (SELECT s2 AS v, SUM(COUNT(*)) OVER (ORDER BY s2 ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM sc GROUP BY s2),
      |c3 AS (SELECT s3 AS v, SUM(COUNT(*)) OVER (ORDER BY s3 ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM sc GROUP BY s3),
      |ens AS (SELECT sc.doc_id,
      |  CAST(FLOOR(1000.0 * c1.cum / n.total) AS BIGINT) AS p_s1,
      |  CAST(FLOOR(1000.0 * c2.cum / n.total) AS BIGINT) AS p_s2,
      |  CAST(FLOOR(1000.0 * c3.cum / n.total) AS BIGINT) AS p_s3,
      |  CAST(FLOOR(1000.0 * c1.cum / n.total) +
      |       FLOOR(1000.0 * c2.cum / n.total) +
      |       FLOOR(1000.0 * c3.cum / n.total) AS BIGINT) AS fused
      |FROM sc CROSS JOIN n
      |JOIN c1 ON c1.v = sc.s1 JOIN c2 ON c2.v = sc.s2 JOIN c3 ON c3.v = sc.s3)""".stripMargin

  val all: Map[String, Q] = Map(
    // [[chunkDocs]] at the registered (32, 24) setting; the oracle
    // recomputes the identical windows via list_transform + slicing.
    "q78_doc_chunking" -> Q(
      "Overlapping 32-token chunks, stride 24: per-chunk token count + head/tail",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |u AS (SELECT doc_id, unnest(list_transform(
        |        range(0, (len(toks) - 1) // 24 + 1),
        |        i -> {'idx': i, 'c': toks[i*24+1 : i*24+32]})) AS ch FROM t)
        |SELECT doc_id, CAST(ch.idx AS BIGINT) AS chunk_idx,
        |  CAST(len(ch.c) AS BIGINT) AS n_tok,
        |  ch.c[1] AS head_tok, ch.c[-1] AS tail_tok
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      chunkDocs(Tables(s, dir, "documents"), window = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    },

    // The bloom-gated decontam path, registered so the claimed scale shape
    // carries a bench timing and a plan hash. DuckDB cannot recompute the
    // bloom or the XXH64 keys — but it doesn't need to: the bloom is a
    // PRUNE with no false negatives and the exact-verify join removes its
    // false positives, so the OUTPUT is exactly q59's and the same ANSI
    // statement hash-checks it (the q67/q68 twin move; CurationSpec
    // additionally pins bit-identity to hashedDecontam).
    "q77_decontam_bloom" -> Q(
      "Bloom-gated decontamination: fixed-size filter prune + exact verify join",
      decontamOracleSql) {
      (s, dir) => bloomDecontam(Tables(s, dir, "documents"))
    },
    // Data MIXING: each source stratum keeps a different deterministic
    // fraction of its documents — the reweighting step that turns a raw
    // crawl into a training mixture. The keep decision is the q49
    // multiplicative-hash-on-doc_id pattern (a retried task must re-deal
    // identical samples — never rand()), and the per-source rate is itself
    // a deterministic function both engines compute identically. At scale
    // this is one codegen'd filter — no shuffle beyond the audit agg.
    "q57_source_mixing" -> Q(
      "Per-source mixture sampling audit: deterministic keep-rates by stratum",
      """WITH rated AS (
        |  SELECT source, n_chars, doc_id,
        |    CASE length(source) % 3 WHEN 0 THEN 2500 WHEN 1 THEN 5000
        |         ELSE 9000 END AS keep_bp
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN ((doc_id % 2147483647) * 2654435761) % 10000 < keep_bp
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN ((doc_id % 2147483647) * 2654435761) % 10000 < keep_bp
        |           THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM rated GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val keepBp = when(pmod(length(col("source")), lit(3)) === 0, 2500)
        .when(pmod(length(col("source")), lit(3)) === 1, 5000)
        .otherwise(9000)
      // the multiplicand is bounded by a Mersenne-prime mod BEFORE the Knuth
      // multiply: (2^31-2) * 2654435761 < 2^63, so the product can never
      // overflow int64 — Spark would silently wrap where DuckDB raises, and
      // a keep-decision must not depend on which engine computes it. For
      // doc_id < 2^31-1 (all testdata) the result is bit-identical to the
      // unbounded form.
      val kept =
        pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L)) < keepBp
      Tables(s, dir, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(kept, 1).otherwise(0)).cast("long").as("n_kept"),
          sum(when(kept, col("n_chars")).otherwise(0)).cast("long").as("kept_chars"))
        .orderBy("source")
    },

    // Mixture REBALANCING to a target distribution — q57 applies GIVEN
    // per-source rates; this SOLVES the rates first (the DoReMi-style
    // static reweighting step): target = equal tokens per source, so
    // rate_s = min_source_tokens / source_tokens (basis points, floored —
    // integer-exact cross-engine), then the q49/q57 deterministic doc-hash
    // applies them (a retried task must re-deal identical samples). Scale
    // shape: the solve is a source-sized aggregate (tiny) broadcast back;
    // the apply is a second SCAN (source + token count columns only —
    // pruned) with a codegen filter, NOT a corpus-wide shuffle: re-scanning
    // two pruned columns beats windowing the whole corpus by source.
    "q108_mixture_rebalance" -> Q(
      "Solve+apply mixture rebalance: per-source keep rates for equal token " +
        "contribution, deterministic hash application, per-source audit",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n
        |  FROM documents),
        |s AS (SELECT source, COUNT(*) AS n_total, SUM(n) AS toks
        |      FROM t GROUP BY source),
        |m AS (SELECT MIN(toks) AS mintoks FROM s),
        |r AS (SELECT source, n_total, toks,
        |        CAST(FLOOR(10000.0 * m.mintoks / toks) AS BIGINT) AS rate_bp
        |      FROM s CROSS JOIN m),
        |k AS (SELECT t.source, t.n, r.rate_bp,
        |        CASE WHEN ((t.doc_id % 2147483647) * 2654435761) % 10000 < r.rate_bp
        |             THEN 1 ELSE 0 END AS kept
        |      FROM t JOIN r USING (source))
        |SELECT source, MIN(rate_bp) AS rate_bp,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(kept * n) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n"))
      val totals = t.groupBy("source")
        .agg(count(lit(1)).as("n_total"), sum("n").as("toks"))
      val rates = totals
        .crossJoin(broadcast(totals.agg(min("toks").as("mintoks"))))
        .select(col("source"),
          floor(lit(10000.0) * col("mintoks") / col("toks")).cast("long").as("rate_bp"))
      val kept =
        pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L)) <
          col("rate_bp")
      t.join(broadcast(rates), "source")
        .select(col("source"), col("n"), col("rate_bp"),
          when(kept, 1L).otherwise(0L).as("kept"))
        .groupBy("source")
        .agg(
          min("rate_bp").as("rate_bp"),
          count(lit(1)).as("n_total"),
          sum(col("n")).cast("long").as("total_tokens"),
          sum(col("kept")).cast("long").as("n_kept"),
          sum(col("kept") * col("n")).cast("long").as("kept_tokens"))
        .orderBy("source")
    },

    // [[temperatureMixture]] at the registered α=0.5 (√ is IEEE-exact in
    // both engines, so the floored basis-point rates hash-check; see the
    // method doc). CurationSpec pins the endpoints: α=0 ≡ q108's rates
    // bit-identically, α=1 ≡ keep-everything.
    "q109_temperature_mix" -> Q(
      "Temperature-weighted mixture rebalance (alpha=0.5): keep-rates " +
        "proportional to toks^(alpha-1), deterministic hash application",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n
        |  FROM documents),
        |s AS (SELECT source, COUNT(*) AS n_total, SUM(n) AS toks
        |      FROM t GROUP BY source),
        |m AS (SELECT MIN(toks) AS mintoks FROM s),
        |r AS (SELECT source, n_total, toks,
        |        CAST(FLOOR(10000.0 * SQRT(CAST(m.mintoks AS DOUBLE) / toks)) AS BIGINT)
        |          AS rate_bp
        |      FROM s CROSS JOIN m),
        |k AS (SELECT t.source, t.n, r.rate_bp,
        |        CASE WHEN ((t.doc_id % 2147483647) * 2654435761) % 10000 < r.rate_bp
        |             THEN 1 ELSE 0 END AS kept
        |      FROM t JOIN r USING (source))
        |SELECT source, MIN(rate_bp) AS rate_bp,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(kept * n) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      temperatureMixture(Tables(s, dir, "documents"), alpha = 0.5)
    },

    // MIXTURE TEMPERATURE SWEEP (see [[mixtureSweep]]): q109's solve at
    // every sqrt-exact α in one pass — per-(α, source) keep rates and
    // actual deterministic-hash yields. One corpus scan; the 5-row-per-
    // source rate grid broadcasts back (bounded ×5 fan-out).
    "q135_mixture_sweep" -> Q(
      "Temperature sweep: per-(alpha, source) keep rates and actual kept " +
        "doc/token yields at alpha in {0, .25, .5, .75, 1} — one scan",
      """WITH t AS (
        |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |s AS (SELECT source, SUM(n) AS toks FROM t GROUP BY source),
        |m AS (SELECT MIN(toks) AS mintoks FROM s),
        |r AS (SELECT source, a.alpha_bp,
        |        CASE a.alpha_bp
        |          WHEN 0 THEN CAST(FLOOR(10000.0 * m.mintoks / toks) AS BIGINT)
        |          WHEN 2500 THEN CAST(FLOOR(10000.0 *
        |            (SQRT(CAST(m.mintoks AS DOUBLE) / toks) *
        |             SQRT(SQRT(CAST(m.mintoks AS DOUBLE) / toks)))) AS BIGINT)
        |          WHEN 5000 THEN CAST(FLOOR(10000.0 *
        |            SQRT(CAST(m.mintoks AS DOUBLE) / toks)) AS BIGINT)
        |          WHEN 7500 THEN CAST(FLOOR(10000.0 *
        |            SQRT(SQRT(CAST(m.mintoks AS DOUBLE) / toks))) AS BIGINT)
        |          ELSE 10000 END AS rate_bp
        |      FROM s CROSS JOIN m
        |      CROSS JOIN (SELECT CAST(unnest([0, 2500, 5000, 7500, 10000]) AS BIGINT)
        |                     AS alpha_bp) a),
        |k AS (SELECT r.alpha_bp, t.source, r.rate_bp, t.n,
        |        CASE WHEN ((t.doc_id % 2147483647) * 2654435761) % 10000 < r.rate_bp
        |             THEN 1 ELSE 0 END AS kept
        |      FROM t JOIN r ON r.source = t.source)
        |SELECT alpha_bp, source, MIN(rate_bp) AS rate_bp,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(kept * n) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY alpha_bp, source
        |ORDER BY alpha_bp, source""".stripMargin) { (s, dir) =>
      mixtureSweep(Tables(s, dir, "documents"))
    },

    // DECONTAMINATION: flag training documents sharing word-5-grams with a
    // held-out eval set (here: doc_id < 20). The eval shingle set is tiny
    // by construction, so the plan is explode → broadcast equi-join on the
    // shingle → count per doc — the corpus side streams once and nothing
    // unbounded is broadcast. String shingles (not the hashed kernel) so
    // DuckDB computes the identical sets for the value oracle; at 100 TB
    // swap in the 8-byte hashed-shingle kernel (q33 path) and keep the join
    // shape.
    "q59_decontam" -> Q(
      "Eval-set decontamination: train docs sharing word-5-grams with docs 0-19",
      decontamOracleSql) { (s, dir) =>
      val docs2 = Tables(s, dir, "documents")
      val sh = docs2.select(
        col("doc_id"), Text.shinglesSpaceSplit(col("text"), k = 5).as("sh"))
      // filter-then-shingle on the eval side — see the q74/q111 comment
      // (the explode's inferred predicates otherwise push the shingle
      // expression into the corpus-wide scan filter)
      val ev = docs2.filter(col("doc_id") < 20)
        .select(explode(Text.shinglesSpaceSplit(col("text"), k = 5)).as("g"))
        .distinct()
      val tr = sh.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("g"))
      tr.join(broadcast(ev), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },

    // The registered, BENCHED form of [[hashedDecontam]] — the declared
    // 100 TB scale path for q59. DuckDB cannot recompute the XXH64 shingle
    // keys, but the twin's OUTPUT is row-identical to the string form
    // (CurationSpec pins it), so q59's oracle statement hash-checks this
    // path's values too — a timing, a plan hash, AND a hard value oracle on
    // the path a petabyte deployment would actually run.
    "q68_decontam_hashed" -> Q(
      "Eval-set decontamination over 8-byte hashed shingle keys (q59's scale twin)",
      decontamOracleSql) {
      (s, dir) => hashedDecontam(Tables(s, dir, "documents"))
    },

    // Trained quality classifier (see [[nbQuality]]): NB fit in one
    // aggregate pass on the train split, holdout confusion matrix out.
    // The oracle replays training AND scoring; the output carries integer
    // counts only (argmax gaps are tens of nats, so engine libm ulps
    // cannot flip a prediction).
    "q88_nb_quality" -> Q(
      "Trained quality classifier: multinomial NB on planted boilerplate labels, holdout confusion",
      """WITH labeled AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1 THEN 'junk' ELSE 'clean' END AS label,
        |    CASE WHEN doc_id % 2 = 1 THEN text || ' ' ||
        |      CASE doc_id % 3
        |        WHEN 0 THEN 'click here free offer buy now limited deal exclusive winner'
        |        WHEN 1 THEN 'subscribe today cheap guarantee instant bonus prize claim reward'
        |        ELSE 'visit site best rates act fast discount promo urgent sale' END
        |      ELSE text END AS text
        |  FROM documents),
        |train AS (SELECT * FROM labeled WHERE doc_id % 5 <> 0),
        |hold AS (SELECT * FROM labeled WHERE doc_id % 5 = 0),
        |cnts AS (SELECT label, tok, COUNT(*) AS n
        |         FROM (SELECT label, unnest(string_split(text, ' ')) AS tok FROM train)
        |         GROUP BY label, tok),
        |tt AS (SELECT tok,
        |         SUM(CASE WHEN label = 'clean' THEN n ELSE 0 END) AS n_clean,
        |         SUM(CASE WHEN label = 'junk' THEN n ELSE 0 END) AS n_junk
        |       FROM cnts GROUP BY tok),
        |consts AS (SELECT
        |    (SELECT SUM(CASE WHEN label = 'clean' THEN n ELSE 0 END) FROM cnts) AS tot_clean,
        |    (SELECT SUM(CASE WHEN label = 'junk' THEN n ELSE 0 END) FROM cnts) AS tot_junk,
        |    (SELECT COUNT(DISTINCT tok) FROM cnts) AS v,
        |    (SELECT COUNT(*) FROM train WHERE label = 'clean') AS docs_clean,
        |    (SELECT COUNT(*) FROM train WHERE label = 'junk') AS docs_junk),
        |ht AS (SELECT doc_id, label, tok, COUNT(*) AS cnt
        |       FROM (SELECT doc_id, label, unnest(string_split(text, ' ')) AS tok FROM hold)
        |       GROUP BY doc_id, label, tok),
        |sc AS (SELECT h.doc_id, h.label,
        |    LN(CAST(c.docs_clean AS DOUBLE) / (c.docs_clean + c.docs_junk)) +
        |      SUM(h.cnt * LN((COALESCE(t.n_clean, 0) + 1) / CAST(c.tot_clean + c.v AS DOUBLE))) AS s_clean,
        |    LN(CAST(c.docs_junk AS DOUBLE) / (c.docs_clean + c.docs_junk)) +
        |      SUM(h.cnt * LN((COALESCE(t.n_junk, 0) + 1) / CAST(c.tot_junk + c.v AS DOUBLE))) AS s_junk
        |  FROM ht h LEFT JOIN tt t ON h.tok = t.tok CROSS JOIN consts c
        |  GROUP BY h.doc_id, h.label, c.docs_clean, c.docs_junk, c.tot_clean, c.tot_junk, c.v)
        |SELECT label,
        |  CASE WHEN s_clean >= s_junk THEN 'clean' ELSE 'junk' END AS predicted,
        |  COUNT(*) AS n_docs
        |FROM sc GROUP BY label, predicted ORDER BY label, predicted""".stripMargin) {
      (s, dir) => nbQuality(Tables(s, dir, "documents"))
    },

    // Cohort retention — the companion to q60's funnel: users grouped by
    // signup week, retention = a PURCHASE in week offset 0..4 (purchase,
    // not any-event — on this dense corpus any-event retention is a flat
    // 100%). Week indices are pure integer epoch arithmetic so both
    // engines bucket identically and no timestamp is ever emitted. Scale
    // shape: q60's single-pass pattern — ONE event scan, ONE user-keyed
    // exchange. The earlier join form read events twice (signup slice ⋈
    // purchase slice); at 100 TB the second scan is the dominant cost, so
    // this computes both per-user facts (min signup week, distinct
    // purchase-week set) in one conditional aggregate. The collected set
    // holds WEEKS, not events — bounded by the corpus time span — and
    // collect_set's partials collapse map-side, so the exchange carries
    // per-user partial sets, not raw purchase rows.
    "q61_cohort_retention" -> Q(
      "Weekly cohort retention matrix: signup cohorts x purchase-active week offsets 0-4",
      """WITH su AS (SELECT user_id, MIN(epoch_us(ts) // 604800000000) AS w0 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |act AS (SELECT DISTINCT e.user_id, su.w0,
        |          (epoch_us(e.ts) // 604800000000) - su.w0 AS wk
        |        FROM events e JOIN su ON e.user_id = su.user_id
        |        WHERE e.event_type = 'purchase')
        |SELECT w0 AS cohort_week, wk AS week_offset, COUNT(*) AS n_users
        |FROM act WHERE wk BETWEEN 0 AND 4
        |GROUP BY w0, wk ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      cohortSinglePass(Tables(s, dir, "events").select("user_id", "event_type", "ts"))
    },

    // PII redaction under the value oracle. The testdata corpus is
    // synthetic word-soup with no organic PII, so the query INJECTS
    // deterministic PII-shaped strings from customer rows (email + IPv4
    // always; a second email on custkey%3==0, a phone on custkey%2==0 —
    // varying counts so the audit columns carry information), then scrubs
    // with [[graft.functions.Text.piiScrub]] and reports per-type counts
    // from the SAME shared patterns. Both engines build the identical raw
    // string, so DuckDB value-checks the full redacted text AND every
    // count. Scale shape: one scan, one codegen regexp chain, no shuffle
    // beyond the presentation sort — identical to q54.
    "q72_pii_scrub" -> Q(
      "PII scrub audit: injected emails/IPs/SSNs/phones redacted with per-type counts " +
        "(regex chain shared with the oracle; one pass, shuffle-free)",
      s"""WITH raw AS (
        |  SELECT c_custkey,
        |    'reach customer' || CAST(c_custkey AS VARCHAR) || '@corp.example'
        |    || CASE WHEN c_custkey % 3 = 0
        |            THEN ' or customer' || CAST(c_custkey AS VARCHAR) || '@backup.example'
        |            ELSE '' END
        |    || ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.'
        |    || CAST(c_nationkey AS VARCHAR)
        |    || ' ssn ' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
        |    || lpad(CAST(c_nationkey % 100 AS VARCHAR), 2, '0') || '-'
        |    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |    || CASE WHEN c_custkey % 2 = 0
        |            THEN ' tel 800-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
        |                 || '-' || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')
        |            ELSE '' END AS txt
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(txt),
        |    '${graft.functions.Text.EmailPattern}', '<email>', 'g'),
        |    '${graft.functions.Text.Ipv4Pattern}', '<ip>', 'g'),
        |    '${graft.functions.Text.SsnPattern}', '<ssn>', 'g'),
        |    '${graft.functions.Text.PhonePattern}', '<phone>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(lower(txt), '${graft.functions.Text.EmailPattern}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(lower(txt), '${graft.functions.Text.Ipv4Pattern}')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(lower(txt), '${graft.functions.Text.SsnPattern}')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(lower(txt), '${graft.functions.Text.PhonePattern}')) AS BIGINT) AS n_phone
        |FROM raw ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val key = col("c_custkey")
      val txt = concat(
        lit("reach customer"), key.cast("string"), lit("@corp.example"),
        when(key % 3 === 0,
          concat(lit(" or customer"), key.cast("string"), lit("@backup.example")))
          .otherwise(lit("")),
        lit(" from 10.0."), (key % 256).cast("string"), lit("."),
        col("c_nationkey").cast("string"),
        lit(" ssn "), lpad((key % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("c_nationkey") % 100).cast("string"), 2, "0"), lit("-"),
        lpad((key % 10000).cast("string"), 4, "0"),
        when(key % 2 === 0,
          concat(lit(" tel 800-"), lpad((key % 1000).cast("string"), 3, "0"),
            lit("-"), lpad(((key * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      Tables(s, dir, "customer")
        .select(col("c_custkey"), txt.as("txt"))
        .select(
          col("c_custkey"),
          Text.piiScrub(col("txt")).as("clean"),
          Text.matchCount(col("txt"), Text.EmailPattern).cast("long").as("n_email"),
          Text.matchCount(col("txt"), Text.Ipv4Pattern).cast("long").as("n_ip"),
          Text.matchCount(col("txt"), Text.SsnPattern).cast("long").as("n_ssn"),
          Text.matchCount(col("txt"), Text.PhonePattern).cast("long").as("n_phone"))
        .orderBy("c_custkey")
    },

    // The COMPOSED curation pipeline — the run a training-data team
    // actually ships, proving the stages fit together: Gopher quality
    // rules (q64) → exact dedup among survivors (q32's fingerprint,
    // min-id canonical) → eval decontamination (q59's 5-gram join) →
    // mixture sampling (q57's deterministic keep-rule). Output is the
    // per-doc DISPOSITION (kept, or the FIRST stage that dropped it) —
    // the audit manifest, not just the surviving rows. Every stage is the
    // exact arithmetic of its stand-alone query, so DuckDB value-checks
    // the whole composition end-to-end. Scale shape: stage predicates are
    // per-row codegen except (a) the canonical-id aggregate keyed on the
    // 16-byte fingerprint and (b) the decontam broadcast join — both
    // bounded the same way their stand-alone forms are.
    "q74_curation_pipeline" -> Q(
      "End-to-end curation manifest: quality filter -> exact dedup -> " +
        "decontamination -> mixture sampling; per-doc kept/drop_reason",
      """WITH train AS (SELECT doc_id, source, text FROM documents WHERE doc_id >= 20),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM train),
        |m AS (SELECT doc_id, len(toks) AS n_tok,
        |             len(list_distinct(toks)) AS n_distinct FROM t),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM (
        |         SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |                  i -> toks[i] || ' ' || toks[i+1])) AS g
        |         FROM t) GROUP BY doc_id, g),
        |tb AS (SELECT doc_id, MAX(c) AS top_c FROM bc GROUP BY doc_id),
        |qual AS (SELECT m.doc_id,
        |    (CAST(m.n_tok - m.n_distinct AS DOUBLE) / m.n_tok <= 0.6 AND
        |     (CASE WHEN m.n_tok > 1
        |           THEN CAST(tb.top_c AS DOUBLE) / (m.n_tok - 1) ELSE 0.0 END) <= 0.08)
        |      AS ok
        |  FROM m LEFT JOIN tb USING (doc_id)),
        |fp AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM train),
        |canon AS (SELECT f, MIN(fp.doc_id) AS keep_id
        |          FROM fp JOIN qual ON fp.doc_id = qual.doc_id
        |          WHERE qual.ok GROUP BY f),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 3),
        |                             i -> array_to_string(toks[i:i+4], ' ')) END AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < 20),
        |contam AS (SELECT DISTINCT tr.doc_id FROM
        |             (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM sh
        |              WHERE doc_id >= 20) tr
        |           JOIN ev ON tr.g = ev.g),
        |disp AS (
        |  SELECT tr.doc_id, tr.source,
        |    CASE WHEN NOT qual.ok THEN 'quality'
        |         WHEN fp.doc_id <> canon.keep_id THEN 'duplicate'
        |         WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN NOT (((tr.doc_id % 2147483647) * 2654435761) % 10000 <
        |                   CASE length(tr.source) % 3 WHEN 0 THEN 2500
        |                        WHEN 1 THEN 5000 ELSE 9000 END)
        |           THEN 'sampled'
        |         ELSE '' END AS drop_reason
        |  FROM train tr
        |  JOIN qual ON tr.doc_id = qual.doc_id
        |  JOIN fp ON tr.doc_id = fp.doc_id
        |  LEFT JOIN canon ON fp.f = canon.f
        |  LEFT JOIN contam ON tr.doc_id = contam.doc_id)
        |SELECT doc_id, source,
        |  CAST(CASE WHEN drop_reason = '' THEN 1 ELSE 0 END AS INTEGER) AS kept,
        |  drop_reason
        |FROM disp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val train = docs.filter(col("doc_id") >= 20)
      val st = graft.functions.HashExpressions
        .repetitionStats(split(col("text"), " ", -1))
      val nTok = element_at(col("st"), 1)
      val dupFrac = (nTok - element_at(col("st"), 2)).cast("double") / nTok
      val topFrac = when(nTok > 1,
        element_at(col("st"), 3).cast("double") / (nTok - 1)).otherwise(lit(0.0))
      val staged = train
        .select(col("doc_id"), col("source"), col("text"), st.as("st"))
        .select(col("doc_id"), col("source"),
          (dupFrac <= 0.6 && topFrac <= 0.08).as("quality_ok"),
          Text.fingerprint(col("text")).as("f"))
      val canon = staged.filter(col("quality_ok"))
        .groupBy("f").agg(min("doc_id").as("keep_id"))
      val sh = docs.select(
        col("doc_id"), Text.shinglesSpaceSplit(col("text"), k = 5).as("sh"))
      // eval side filters BEFORE shingling: with the filter above the
      // shingle project, the explode's inferred isnotnull/size>0
      // predicates push the whole shingle expression into the scan filter
      // and every corpus row pays it (measured 1.9 s vs 0.35 s for the
      // identical 20-doc result at sf0.1)
      val ev = docs.filter(col("doc_id") < 20)
        .select(explode(Text.shinglesSpaceSplit(col("text"), k = 5)).as("g"))
        .distinct()
      val contam = sh.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("g"))
        .join(broadcast(ev), "g")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
      val keepBp = when(pmod(length(col("source")), lit(3)) === 0, 2500)
        .when(pmod(length(col("source")), lit(3)) === 1, 5000)
        .otherwise(9000)
      val sampled =
        pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L)) < keepBp
      val reason = when(!col("quality_ok"), "quality")
        .when(col("doc_id") =!= col("keep_id"), "duplicate")
        .when(coalesce(col("contaminated"), lit(false)), "contaminated")
        .when(!sampled, "sampled")
        .otherwise("")
      staged
        .join(canon, Seq("f"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), reason.as("drop_reason"))
        .select(col("doc_id"), col("source"),
          (col("drop_reason") === "").cast("int").as("kept"),
          col("drop_reason"))
        .orderBy("doc_id")
    },

    // q74 with the PRODUCTION dedup stage: the q97 near-dup manifest
    // (banded minhash graph → components → quality-ranked representative,
    // [[Dedup.rankRepresentatives]] — the SAME ranking code as q91/q97)
    // replaces q74's exact-fingerprint dedup. Trimmed near-dups of a kept
    // document now drop as 'duplicate' where the exact stage saw distinct
    // fingerprints — this is the chain a 100 TB pipeline actually ships.
    // Oracle: the quality/contam/sampling CTEs are q74's verbatim; the
    // dedup stage is the q97 exact-jaccard component replay RESTRICTED to
    // quality survivors (banding is per-doc deterministic, so the
    // subset inherits the corpus' recall-1.0 equality — MinHashRecallSpec
    // pins it) + the q91 ranking replay. CurationGateSpec asserts each
    // disposition agrees with its stand-alone stage query.
    "q111_neardup_curation" -> Q(
      "Near-dup-aware curation manifest: quality filter -> q97 minhash " +
        "manifest dedup -> decontamination -> mixture sampling",
      """WITH RECURSIVE
        |train AS (SELECT doc_id, source, text FROM documents WHERE doc_id >= 20),
        |tq AS (SELECT doc_id, string_split(text, ' ') AS toks FROM train),
        |mq AS (SELECT doc_id, len(toks) AS n_tok,
        |              len(list_distinct(toks)) AS n_distinct FROM tq),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM (
        |         SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |                  i -> toks[i] || ' ' || toks[i+1])) AS g
        |         FROM tq) GROUP BY doc_id, g),
        |tb AS (SELECT doc_id, MAX(c) AS top_c FROM bc GROUP BY doc_id),
        |qual AS (SELECT mq.doc_id,
        |    (CAST(mq.n_tok - mq.n_distinct AS DOUBLE) / mq.n_tok <= 0.6 AND
        |     (CASE WHEN mq.n_tok > 1
        |           THEN CAST(tb.top_c AS DOUBLE) / (mq.n_tok - 1) ELSE 0.0 END) <= 0.08)
        |      AS ok
        |  FROM mq LEFT JOIN tb USING (doc_id)),
        |surv AS (SELECT train.doc_id, train.text FROM train
        |         JOIN qual USING (doc_id) WHERE qual.ok),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM surv),
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
        |comp AS (SELECT LEAST(COALESCE(mm.mn, sv.doc_id), sv.doc_id) AS cluster_id,
        |                sv.doc_id
        |         FROM surv sv LEFT JOIN mins mm ON mm.doc_id = sv.doc_id),
        |nd AS (SELECT comp.doc_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                ORDER BY d.n_chars DESC, comp.doc_id) = 1 AS INTEGER) AS keep
        |       FROM comp JOIN documents d ON d.doc_id = comp.doc_id),
        |sh2 AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 3),
        |                             i -> array_to_string(toks[i:i+4], ' ')) END AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh2 WHERE doc_id < 20),
        |contam AS (SELECT DISTINCT tr.doc_id FROM
        |             (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM sh2
        |              WHERE doc_id >= 20) tr
        |           JOIN ev ON tr.g = ev.g),
        |disp AS (
        |  SELECT train.doc_id, train.source,
        |    CASE WHEN NOT qual.ok THEN 'quality'
        |         WHEN nd.keep = 0 THEN 'duplicate'
        |         WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN NOT (((train.doc_id % 2147483647) * 2654435761) % 10000 <
        |                   CASE length(train.source) % 3 WHEN 0 THEN 2500
        |                        WHEN 1 THEN 5000 ELSE 9000 END)
        |           THEN 'sampled'
        |         ELSE '' END AS drop_reason
        |  FROM train
        |  JOIN qual USING (doc_id)
        |  LEFT JOIN nd USING (doc_id)
        |  LEFT JOIN contam USING (doc_id))
        |SELECT doc_id, source,
        |  CAST(CASE WHEN drop_reason = '' THEN 1 ELSE 0 END AS INTEGER) AS kept,
        |  drop_reason
        |FROM disp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val train = docs.filter(col("doc_id") >= 20)
      val st = graft.functions.HashExpressions
        .repetitionStats(split(col("text"), " ", -1))
      val nTok = element_at(col("st"), 1)
      val dupFrac = (nTok - element_at(col("st"), 2)).cast("double") / nTok
      val topFrac = when(nTok > 1,
        element_at(col("st"), 3).cast("double") / (nTok - 1)).otherwise(lit(0.0))
      // snapped (the incrementalRelease lever): the survivor filter feeds
      // the CC node snap, the minhash edge snap's signature AND shingle
      // branches, and the final disposition join — unsnapped, each of
      // those actions re-ran the repetition-stats kernel over the corpus
      val staged = org.apache.spark.sql.graft.shims.snap(train
        .select(col("doc_id"), col("source"), col("text"), st.as("st"))
        .select(col("doc_id"), col("source"), col("text"),
          (dupFrac <= 0.6 && topFrac <= 0.08).as("quality_ok")), "curation.staged")
      val surv = staged.filter(col("quality_ok")).select("doc_id", "text")
      val comps = graft.operators.ConnectedComponents.run(
        surv.select(col("doc_id").as("id")),
        Dedup.minhashPairs(surv, threshold = 0.7)
          .select(col("a").as("src"), col("b").as("dst")))
      val manifest = Dedup.rankRepresentatives(
          comps.select(col("component").as("cluster_id"), col("id").as("doc_id")), docs)
        .select(col("doc_id"), col("keep").as("nd_keep"))
      val sh = docs.select(
        col("doc_id"), Text.shinglesSpaceSplit(col("text"), k = 5).as("sh"))
      // eval side filters BEFORE shingling: with the filter above the
      // shingle project, the explode's inferred isnotnull/size>0
      // predicates push the whole shingle expression into the scan filter
      // and every corpus row pays it (measured 1.9 s vs 0.35 s for the
      // identical 20-doc result at sf0.1)
      val ev = docs.filter(col("doc_id") < 20)
        .select(explode(Text.shinglesSpaceSplit(col("text"), k = 5)).as("g"))
        .distinct()
      val contam = sh.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("g"))
        .join(broadcast(ev), "g")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
      val keepBp = when(pmod(length(col("source")), lit(3)) === 0, 2500)
        .when(pmod(length(col("source")), lit(3)) === 1, 5000)
        .otherwise(9000)
      val sampled =
        pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(10000L)) < keepBp
      val reason = when(!col("quality_ok"), "quality")
        .when(col("nd_keep") === 0, "duplicate")
        .when(coalesce(col("contaminated"), lit(false)), "contaminated")
        .when(!sampled, "sampled")
        .otherwise("")
      staged
        .join(manifest, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), reason.as("drop_reason"))
        .select(col("doc_id"), col("source"),
          (col("drop_reason") === "").cast("int").as("kept"),
          col("drop_reason"))
        .orderBy("doc_id")
    },

    // [[adaptiveQualityFilter]] at the registered keepFraction=0.7. The
    // oracle replays the histogram-threshold rule verbatim: integer
    // per-mille scores, per-source descending-cumulative histogram,
    // thr = max score whose cumulative count reaches ceil(0.7·n_source) —
    // all integer/exact-double arithmetic, hash-identical cross-engine.
    "q115_adaptive_quality" -> Q(
      "Adaptive per-source quality filter: keep top 70% of each source by " +
        "per-mille density score, threshold solved per source via histogram",
      """WITH sc AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(1000.0 * LENGTH(REPLACE(text, ' ', '')) / LENGTH(text))
        |         AS BIGINT) AS score
        |  FROM documents WHERE LENGTH(text) > 0),
        |h AS (SELECT source, score, COUNT(*) AS n FROM sc GROUP BY source, score),
        |c AS (SELECT source, score, n,
        |        SUM(n) OVER (PARTITION BY source ORDER BY score DESC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(n) OVER (PARTITION BY source) AS total
        |      FROM h),
        |thr AS (SELECT source, MAX(score) AS thr FROM c
        |        WHERE cum >= CEIL(0.7 * total) GROUP BY source)
        |SELECT sc.doc_id, sc.source, sc.score, thr.thr,
        |  CAST(sc.score >= thr.thr AS INTEGER) AS keep
        |FROM sc JOIN thr USING (source)
        |ORDER BY sc.doc_id""".stripMargin) { (s, dir) =>
      adaptiveQualityFilter(Tables(s, dir, "documents"), keepFraction = 0.7)
    },

    // [[curriculumStages]] at the registered 4 stages. The oracle replays
    // the global histogram-quantile rule: ascending cumulative histogram,
    // boundary b_k = min score reaching ceil(k·n/4), stage = 1 + strict
    // boundary exceedances — integer/exact-double only.
    "q118_curriculum_stages" -> Q(
      "Curriculum staging: 4 global quality quantiles via exact score " +
        "histogram (no corpus-wide ntile window)",
      """WITH sc AS (
        |  SELECT doc_id,
        |    CAST(FLOOR(1000.0 * LENGTH(REPLACE(text, ' ', '')) / LENGTH(text))
        |         AS BIGINT) AS score
        |  FROM documents WHERE LENGTH(text) > 0),
        |h AS (SELECT score, COUNT(*) AS n FROM sc GROUP BY score),
        |c AS (SELECT score,
        |        SUM(n) OVER (ORDER BY score ASC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(n) OVER () AS total
        |      FROM h),
        |b AS (SELECT
        |        MIN(CASE WHEN cum >= CEIL(1.0 * total / 4.0) THEN score END) AS b1,
        |        MIN(CASE WHEN cum >= CEIL(2.0 * total / 4.0) THEN score END) AS b2,
        |        MIN(CASE WHEN cum >= CEIL(3.0 * total / 4.0) THEN score END) AS b3
        |      FROM c)
        |SELECT sc.doc_id, sc.score,
        |  CAST(1 + (CASE WHEN sc.score > b.b1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN sc.score > b.b2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN sc.score > b.b3 THEN 1 ELSE 0 END) AS INTEGER) AS stage
        |FROM sc CROSS JOIN b
        |ORDER BY sc.doc_id""".stripMargin) { (s, dir) =>
      curriculumStages(Tables(s, dir, "documents"), stages = 4)
    },

    // [[epochAllocation]] at budget=60000 tokens, epoch cap 4 — sized so
    // the sf0.01 corpus (~25k tokens over 20 sources) genuinely exercises
    // the multi-epoch regime. The oracle replays the one-shot waterfill:
    // equal floored share, LEAST against the epoch cap, q108's
    // floored-double basis points.
    "q119_epoch_allocation" -> Q(
      "Data-constrained epoch allocation: equal per-source token share " +
        "under a 4-epoch repetition cap, with per-source shortfall",
      """WITH t AS (
        |  SELECT source, len(string_split(text, ' ')) AS n FROM documents),
        |s AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS toks
        |      FROM t GROUP BY source),
        |m AS (SELECT COUNT(*) AS n_sources FROM s),
        |r AS (SELECT source, n_docs, toks,
        |        CAST(FLOOR(60000 / n_sources) AS BIGINT) AS target,
        |        LEAST(4 * toks, CAST(FLOOR(60000 / n_sources) AS BIGINT)) AS alloc_toks
        |      FROM s CROSS JOIN m)
        |SELECT source, n_docs, toks, alloc_toks,
        |  CAST(FLOOR(10000.0 * alloc_toks / toks) AS BIGINT) AS epochs_bp,
        |  CAST(target - alloc_toks AS BIGINT) AS shortfall
        |FROM r ORDER BY source""".stripMargin) { (s, dir) =>
      epochAllocation(Tables(s, dir, "documents"), budget = 60000L, maxEpochs = 4)
    },

    // [[incrementalThresholds]]: stored day-0 histogram (docs with
    // doc_id%5≠0 — the incremental-family batch convention) merged with
    // the day-1 batch histogram, thresholds re-solved from the merged
    // counts. The oracle is the FROM-SCRATCH q115 solve over the whole
    // corpus: histogram addition is exact, so incremental == rebuild is
    // an equality, not an approximation.
    "q121_incremental_thresholds" -> Q(
      "Incremental per-source threshold re-solve: stored score histogram + " +
        "batch histogram merge (exact mergeable statistic), equals rebuild",
      ThresholdOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val storedPath = histogramIndexFor(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), dir)
      incrementalThresholds(
        s.read.parquet(storedPath),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        keepFraction = 0.7)
    },

    // HISTOGRAM-STORE RETRACTION (see [[retractFromHistogramStore]]): the
    // count-subtraction un-absorb (negative nets would raise), registered
    // as the PROBE against the warm full-corpus histogram store — the
    // flagged day-2 batch (%5==0) subtracts out as a pure view and q121's
    // solve runs over the retracted view merged with the day-2 batch.
    // Oracle: q121's verbatim (shared ThresholdOracleSql) — equal values
    // ⟺ the retracted view equals the %5≠0 rebuild, the exact
    // mergeable-statistic mirror of q121's incremental-equals-rebuild.
    // The store-REWRITING absorb∘absorb∘retract lifecycle is spec-proved
    // (HistogramRetractSpec, LifecycleSpec) — probe ≡ rewrite by
    // construction, they share retractedHistogramRows.
    "q152_threshold_retract" -> Q(
      "Histogram-store retraction: flagged day-2 batch un-absorbed by " +
        "exact count subtraction, thresholds re-solved as if never absorbed",
      ThresholdOracleSql) { (s, dir) =>
      // PROBE form (the q158 precedent): the flagged batch sits absorbed
      // in the warm full-corpus histogram store; each call measures the
      // count-subtraction retraction + re-solve, not three store writes.
      // Output identical to the store-rewriting lifecycle
      // (HistogramRetractSpec/LifecycleSpec-proved).
      val docs = Tables(s, dir, "documents")
      val flagged = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      // the warm FULL-corpus histogram store at the ABSORBED state: counts
      // are a mergeable statistic, so the one-shot full-corpus build
      // equals base + day-1 + day-2 absorbs row-for-row (q121's
      // incremental-equals-rebuild pin, applied at build time)
      val path = WarmStores.artifact(s, dir, "documents", "qhist", "v1", "full")()(
        WarmStores.zstd(scoreHistogram(docs)))
      incrementalThresholds(
        retractedHistogramRows(s.read.parquet(path), flagged),
        flagged,
        keepFraction = 0.7)
    },

    // [[driftMonitor]] over the SAME stored day-N histogram artifact as
    // q121 (one store, two daily consumers). The oracle replays both
    // histograms and the cross-multiplied L1 in plain integer SQL.
    "q123_drift_monitor" -> Q(
      "Per-source distribution drift: integer-exact L1 between the stored " +
        "day-N score histogram and today's batch, with new/stale/drift status",
      """WITH sc AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(1000.0 * LENGTH(REPLACE(text, ' ', '')) / LENGTH(text))
        |         AS BIGINT) AS score
        |  FROM documents WHERE LENGTH(text) > 0),
        |h0 AS (SELECT source, score, COUNT(*) AS n FROM sc
        |       WHERE doc_id % 5 <> 0 GROUP BY source, score),
        |h1 AS (SELECT source, score, COUNT(*) AS n FROM sc
        |       WHERE doc_id % 5 = 0 GROUP BY source, score),
        |j AS (SELECT COALESCE(h0.source, h1.source) AS source,
        |             COALESCE(h0.n, 0) AS c0, COALESCE(h1.n, 0) AS c1
        |      FROM h0 FULL OUTER JOIN h1
        |        ON h0.source = h1.source AND h0.score = h1.score),
        |t AS (SELECT source, CAST(SUM(c0) AS BIGINT) AS n_base,
        |             CAST(SUM(c1) AS BIGINT) AS n_batch
        |      FROM j GROUP BY source),
        |d AS (SELECT j.source,
        |        CAST(SUM(ABS(c0 * t.n_batch - c1 * t.n_base)) AS BIGINT) AS l1_scaled
        |      FROM j JOIN t ON t.source = j.source GROUP BY j.source)
        |SELECT t.source, t.n_base, t.n_batch, d.l1_scaled,
        |  CASE WHEN t.n_base = 0 THEN 'new'
        |       WHEN t.n_batch = 0 THEN 'stale'
        |       WHEN d.l1_scaled * 2 > t.n_base * t.n_batch THEN 'drift'
        |       ELSE 'ok' END AS status
        |FROM t JOIN d ON d.source = t.source
        |ORDER BY t.source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val storedPath = histogramIndexFor(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), dir)
      driftMonitor(
        s.read.parquet(storedPath),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    },

    // KS DRIFT (see [[ksDrift]]): the sup-norm companion to q123 over the
    // SAME stored histogram artifact — three daily consumers of one
    // store now (thresholds, L1 drift, KS drift). Oracle replays the
    // cumulative cross-multiplication in plain integer SQL.
    "q137_ks_drift" -> Q(
      "Per-source KS drift: integer-exact sup |CDF_base - CDF_batch| " +
        "between the stored day-N score histogram and today's batch",
      """WITH sc AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(1000.0 * LENGTH(REPLACE(text, ' ', '')) / LENGTH(text))
        |         AS BIGINT) AS score
        |  FROM documents WHERE LENGTH(text) > 0),
        |h0 AS (SELECT source, score, COUNT(*) AS n FROM sc
        |       WHERE doc_id % 5 <> 0 GROUP BY source, score),
        |h1 AS (SELECT source, score, COUNT(*) AS n FROM sc
        |       WHERE doc_id % 5 = 0 GROUP BY source, score),
        |j AS (SELECT COALESCE(h0.source, h1.source) AS source,
        |             COALESCE(h0.score, h1.score) AS score,
        |             COALESCE(h0.n, 0) AS c0, COALESCE(h1.n, 0) AS c1
        |      FROM h0 FULL OUTER JOIN h1
        |        ON h0.source = h1.source AND h0.score = h1.score),
        |c AS (SELECT source, score, c0, c1,
        |        SUM(c0) OVER (PARTITION BY source ORDER BY score
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
        |        SUM(c1) OVER (PARTITION BY source ORDER BY score
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
        |      FROM j),
        |t AS (SELECT source, CAST(MAX(cum0) AS BIGINT) AS n_base,
        |             CAST(MAX(cum1) AS BIGINT) AS n_batch
        |      FROM c GROUP BY source),
        |k AS (SELECT c.source,
        |        CAST(MAX(ABS(cum0 * t.n_batch - cum1 * t.n_base)) AS BIGINT) AS ks_scaled
        |      FROM c JOIN t ON t.source = c.source GROUP BY c.source)
        |SELECT t.source, t.n_base, t.n_batch, k.ks_scaled,
        |  CASE WHEN t.n_base = 0 THEN 'new'
        |       WHEN t.n_batch = 0 THEN 'stale'
        |       WHEN k.ks_scaled * 4 > t.n_base * t.n_batch THEN 'drift'
        |       ELSE 'ok' END AS status
        |FROM t JOIN k ON k.source = t.source
        |ORDER BY t.source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val storedPath = histogramIndexFor(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), dir)
      ksDrift(
        s.read.parquet(storedPath),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    },

    // [[contentNovelty]] against the persisted day-N window store. The
    // oracle replays both window sets with the q59 5-gram construction.
    "q124_content_novelty" -> Q(
      "Per-source batch novelty: fraction of distinct 5-gram windows " +
        "unseen in the stored corpus window set (basis points)",
      NoveltyOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val storePath = windowStoreFor(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), dir)
      contentNovelty(
        s.read.parquet(storePath),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    },

    // The HASHED novelty twin (see [[hashedContentNovelty]]): q124's
    // gauge over 8-byte XXH64 window keys — the store representation a
    // 100 TB deployment actually persists. Registered with q124's
    // string-window oracle (the q68 precedent): the twin's counts are
    // identical absent a 64-bit collision, so the oracle hash-checks the
    // scale path's values; CurationSpec pins the twins row-identical.
    "q133_novelty_hashed" -> Q(
      "Per-source batch novelty over the 8-byte hashed window store " +
        "(q124's scale twin — same counts, long keys through the anti-join)",
      NoveltyOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // the `xxh` variant keeps the two representations from ever
      // serving each other
      val storePath = WarmStores.artifact(s, dir, "documents", "ngram_store", "k5", "xxh")()(
        WarmStores.zstd(hashedWindowStore(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))))
      hashedContentNovelty(
        s.read.parquet(storePath),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    },

    // [[qualityEnsemble]]. The oracle replays the three integer signals,
    // their exact ascending cumulative histograms, and the per-mille
    // percentile joins — all integer/exact-double arithmetic.
    "q125_quality_ensemble" -> Q(
      "Multi-signal quality ensemble: per-mille CDF percentile of density, " +
        "unique-token and stopword ratios, fused by sum",
      s"""WITH $EnsembleCteSql
        |SELECT doc_id, p_s1, p_s2, p_s3, fused FROM ens
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      qualityEnsemble(Tables(s, dir, "documents"))
    },

    // ENSEMBLE-BASED ADAPTIVE FILTER (see [[ensembleFilter]]): the two
    // halves of the modern curation filter composed — q125's fused
    // multi-signal percentile as the quality metric, q115's per-source
    // histogram threshold solve as the keep rule. The oracle extends the
    // shared ensemble CTE with the threshold chain; CurationGateSpec-style
    // agreement with the stand-alone pieces is inherent (shared code and
    // shared CTE on both sides).
    "q142_ensemble_filter" -> Q(
      "Adaptive quality filter on the fused ensemble score: top 70% per " +
        "source via the exact histogram solve, per-doc keep flags",
      s"""WITH $EnsembleCteSql,
        |fs AS (SELECT e.doc_id, d.source, e.fused
        |       FROM ens e JOIN documents d ON d.doc_id = e.doc_id),
        |fh AS (SELECT source, fused, COUNT(*) AS n FROM fs GROUP BY source, fused),
        |fc AS (SELECT source, fused, n,
        |        SUM(n) OVER (PARTITION BY source ORDER BY fused DESC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(n) OVER (PARTITION BY source) AS total
        |      FROM fh),
        |thr AS (SELECT source, MAX(fused) AS thr FROM fc
        |        WHERE cum >= CEIL(0.7 * total) GROUP BY source)
        |SELECT fs.doc_id, fs.source, fs.fused, thr.thr,
        |  CAST(fs.fused >= thr.thr AS INT) AS keep
        |FROM fs JOIN thr ON thr.source = fs.source
        |ORDER BY fs.doc_id""".stripMargin) { (s, dir) =>
      ensembleFilter(Tables(s, dir, "documents"))
    },

    // CDC APPLY (see [[applyChanges]]): the q132 change classes expressed
    // as a FEED (deletes, in-place upserts, inserts) and folded into the
    // base snapshot. The oracle constructs the target snapshot DIRECTLY
    // (q132's v1) and attests it per source (count, distinct content
    // fingerprints, id-hash) — equality proves apply(feed, v0) lands on
    // exactly the snapshot the diff described, the round-trip contract
    // of the versioning pair.
    "q140_snapshot_apply" -> Q(
      "CDC apply: fold a delete/upsert/insert feed into the base snapshot; " +
        "per-source attestation equals the directly-constructed target",
      """WITH v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_fps,
        |  CAST(SUM(((doc_id % 2147483647) * 2654435761) % 1000000007) AS BIGINT)
        |    AS id_hash
        |FROM v1 GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val v0 = Tables(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val feed =
        v0.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select(col("doc_id"), col("source"), col("text"), lit("delete").as("op"))
        .unionByName(
          v0.filter(pmod(col("doc_id"), lit(7)) === 0 &&
              pmod(col("doc_id"), lit(11)) =!= 0)
            .select(col("doc_id"), col("source"), upper(col("text")).as("text"),
              lit("upsert").as("op")))
        .unionByName(
          v0.filter(pmod(col("doc_id"), lit(13)) === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
              col("text"), lit("upsert").as("op")))
      applyChanges(v0, feed)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_fps"),
          sum(pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
            lit(1000000007L))).cast("long").as("id_hash"))
        .orderBy("source")
    },

    // SAMPLER-UNIFORMITY AUDIT (see [[samplerUniformity]]): the QA gauge
    // for the deterministic keep-hash every mixture/sampling query rests
    // on, over the densified 10-cell grid (empty cells count in full).
    "q139_sampler_uniformity" -> Q(
      "Keep-hash uniformity audit: per-source 10-cell distribution of the " +
        "deterministic sampling hash, integer-exact L1 deviation + extremes",
      """WITH h AS (
        |  SELECT source,
        |    CAST(FLOOR((((doc_id % 2147483647) * 2654435761) % 10000) / 1000)
        |         AS BIGINT) AS cell
        |  FROM documents),
        |c AS (SELECT source, cell, COUNT(*) AS n FROM h GROUP BY source, cell),
        |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs FROM c GROUP BY source),
        |grid AS (SELECT t.source, t.n_docs, CAST(g.i AS BIGINT) AS cell
        |         FROM t CROSS JOIN range(0, 10) g(i)),
        |f AS (SELECT grid.source, grid.n_docs, grid.cell, COALESCE(c.n, 0) AS n
        |      FROM grid LEFT JOIN c
        |        ON c.source = grid.source AND c.cell = grid.cell)
        |SELECT source, MAX(n_docs) AS n_docs,
        |  CAST(SUM(ABS(n * 10 - n_docs)) AS BIGINT) AS dev_scaled,
        |  CAST(MIN(n) AS BIGINT) AS min_cell,
        |  CAST(MAX(n) AS BIGINT) AS max_cell
        |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      samplerUniformity(Tables(s, dir, "documents"))
    },

    // DAILY OPS REPORT (see [[dailyOpsReport]]): q123 + q124 + q121
    // composed per source over the shared stored artifacts. The oracle
    // replays all three already-oracled chains into one joined row set —
    // the composed numbers ARE the stand-alone numbers.
    "q136_daily_ops" -> Q(
      "Daily ops report: per-source drift status, batch novelty, and " +
        "re-solved quality threshold in one composed gauge",
      """WITH sc AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(1000.0 * LENGTH(REPLACE(text, ' ', '')) / LENGTH(text))
        |         AS BIGINT) AS score
        |  FROM documents WHERE LENGTH(text) > 0),
        |h0 AS (SELECT source, score, COUNT(*) AS n FROM sc
        |       WHERE doc_id % 5 <> 0 GROUP BY source, score),
        |h1 AS (SELECT source, score, COUNT(*) AS n FROM sc
        |       WHERE doc_id % 5 = 0 GROUP BY source, score),
        |j AS (SELECT COALESCE(h0.source, h1.source) AS source,
        |             COALESCE(h0.n, 0) AS c0, COALESCE(h1.n, 0) AS c1
        |      FROM h0 FULL OUTER JOIN h1
        |        ON h0.source = h1.source AND h0.score = h1.score),
        |t AS (SELECT source, CAST(SUM(c0) AS BIGINT) AS n_base,
        |             CAST(SUM(c1) AS BIGINT) AS n_batch
        |      FROM j GROUP BY source),
        |d AS (SELECT j.source,
        |        CAST(SUM(ABS(c0 * t.n_batch - c1 * t.n_base)) AS BIGINT) AS l1_scaled
        |      FROM j JOIN t ON t.source = j.source GROUP BY j.source),
        |hh AS (SELECT source, score, COUNT(*) AS n FROM sc GROUP BY source, score),
        |cc AS (SELECT source, score, n,
        |        SUM(n) OVER (PARTITION BY source ORDER BY score DESC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(n) OVER (PARTITION BY source) AS total
        |      FROM hh),
        |thr AS (SELECT source, MAX(score) AS thr FROM cc
        |        WHERE cum >= CEIL(0.7 * total) GROUP BY source),
        |shw AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 3),
        |                             i -> array_to_string(toks[i:i+4], ' ')) END AS sh
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)),
        |stw AS (SELECT DISTINCT unnest(sh) AS g FROM shw WHERE doc_id % 5 <> 0),
        |bw AS (SELECT DISTINCT source, unnest(sh) AS g FROM shw WHERE doc_id % 5 = 0),
        |nn AS (SELECT source, COUNT(*) AS n_windows FROM bw GROUP BY source),
        |nv AS (SELECT bw.source, COUNT(*) AS n_novel
        |       FROM bw LEFT JOIN stw ON stw.g = bw.g
        |       WHERE stw.g IS NULL GROUP BY bw.source),
        |nov AS (SELECT nn.source,
        |          CAST(FLOOR(10000.0 * COALESCE(nv.n_novel, 0) / nn.n_windows) AS BIGINT)
        |            AS novelty_bp
        |        FROM nn LEFT JOIN nv ON nv.source = nn.source)
        |SELECT t.source,
        |  CASE WHEN t.n_base = 0 THEN 'new'
        |       WHEN t.n_batch = 0 THEN 'stale'
        |       WHEN d.l1_scaled * 2 > t.n_base * t.n_batch THEN 'drift'
        |       ELSE 'ok' END AS status,
        |  t.n_base, t.n_batch,
        |  COALESCE(nov.novelty_bp, -1) AS novelty_bp,
        |  COALESCE(thr.thr, -1) AS thr
        |FROM t JOIN d ON d.source = t.source
        |LEFT JOIN nov ON nov.source = t.source
        |LEFT JOIN thr ON thr.source = t.source
        |ORDER BY t.source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      dailyOpsReport(
        s.read.parquet(histogramIndexFor(base, dir)),
        s.read.parquet(windowStoreFor(base, dir)),
        batch)
    },

    // THRESHOLD CALIBRATION (see [[thresholdCalibration]]): confusion
    // counts for the cheap density signal at 11 threshold operating
    // points against the q88 planted-junk labels — the distillation step
    // between an expensive classifier and a deployed codegen filter. One
    // corpus scan (the (label, score) histogram), then the grid sweeps
    // the histogram, not the corpus. Integer counts only.
    "q130_threshold_sweep" -> Q(
      "Threshold calibration sweep: confusion counts (tp/fp/fn/tn) for " +
        "the integer density score vs planted junk labels at 11 cut points",
      """WITH labeled AS (
        |  SELECT
        |    CASE WHEN doc_id % 2 = 1 THEN 'junk' ELSE 'clean' END AS label,
        |    CASE WHEN doc_id % 2 = 1 THEN text || ' ' ||
        |      CASE doc_id % 3
        |        WHEN 0 THEN 'click here free offer buy now limited deal exclusive winner'
        |        WHEN 1 THEN 'subscribe today cheap guarantee instant bonus prize claim reward'
        |        ELSE 'visit site best rates act fast discount promo urgent sale' END
        |      ELSE text END AS text
        |  FROM documents),
        |h AS (SELECT label,
        |        CAST(FLOOR(1000.0 * len(replace(text, ' ', '')) / len(text))
        |             AS BIGINT) AS score,
        |        COUNT(*) AS n
        |      FROM labeled WHERE len(text) > 0 GROUP BY label, score),
        |grid AS (SELECT CAST(100 * i AS BIGINT) AS thr FROM range(0, 11) r(i))
        |SELECT thr,
        |  CAST(SUM(CASE WHEN label = 'junk' AND score >= thr THEN n ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN label = 'clean' AND score >= thr THEN n ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN label = 'junk' AND score < thr THEN n ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN label = 'clean' AND score < thr THEN n ELSE 0 END) AS BIGINT) AS tn
        |FROM h CROSS JOIN grid GROUP BY thr ORDER BY thr""".stripMargin) { (s, dir) =>
      thresholdCalibration(Tables(s, dir, "documents"))
    },

    // NOVELTY-STORE LIFECYCLE (see [[appendToWindowStore]]): the q124
    // gauge carried across a day boundary — day-0 store (doc_id%5 ∉
    // {0,1}), day-1 batch (%5==1) ABSORBED via the left-anti append,
    // day-2 batch (%5==0) gauged against the GROWN store. The oracle is
    // q124's replay over the full %5≠0 window set: values equal ⟺ the
    // absorbed store equals a from-scratch rebuild (the q110/q113/q121
    // incremental-equals-rebuild contract, here for the window set).
    // Store artifact is pid-scoped (it is MUTATED — never share a
    // mutated path across processes) with a write-once base; the absorb
    // re-runs every call and is idempotent by construction.
    "q131_novelty_absorb" -> Q(
      "Incremental novelty store: day-1 batch absorbed by left-anti " +
        "append, day-2 batch novelty against the grown store",
      NoveltyOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val path = WarmStores.key(dir, "ngram_store", "absorb", "k5", WarmStores.Pid)
      Curation.synchronized {
        if (!StoreSwap.committed(s, path))
          StoreSwap.write(windowStore(docs.filter(pmod(col("doc_id"), lit(5)) > 1)), path)
        appendToWindowStore(s, docs.filter(pmod(col("doc_id"), lit(5)) === 1), path)
      }
      contentNovelty(
        s.read.parquet(path), docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    },

    // REFCOUNTED NOVELTY STORE + RETRACTION (see [[refcountedWindowStore]]):
    // q149's un-absorb for the window-set store — the one family q149's
    // retractBatch had to document as irreversible. Registered as the
    // PROBE against the warm full-corpus refcounted store (refcounts are
    // additive, so the one-shot build IS the absorbed state): the flagged
    // day-2 batch (%5==0) decrements out as a pure view — shared windows
    // decrement and survive, batch-only windows vanish — and the novelty
    // gauge runs as if the flagged batch never landed. Oracle: q124's
    // replay over the %5≠0 window set — values equal ⟺ the retracted
    // view equals EXACTLY the base∪day-1 presence set (the
    // retract-equals-rebuild contract); RefcountStoreSpec additionally
    // pins the (g, net count) table itself, which the gauge can't see,
    // and spec-proves the store-REWRITING absorb∘absorb∘retract
    // lifecycle — probe ≡ rewrite by construction, they share
    // retractedRefcountedRows.
    "q150_novelty_retract" -> Q(
      "Refcounted novelty store: flagged day-2 batch absorbed then " +
        "retracted (shared windows decrement and survive, batch-only " +
        "windows vanish), day-2 novelty gauged as if never absorbed",
      NoveltyOracleSql) { (s, dir) =>
      // PROBE form (the q158 precedent): the flagged batch sits absorbed
      // in the warm full-corpus refcounted store; each call measures the
      // decrement-and-survive retraction + novelty gauge, not three store
      // writes. Output identical to the store-rewriting lifecycle
      // (RefcountStoreSpec/LifecycleSpec-proved).
      val docs = Tables(s, dir, "documents")
      val flagged = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val path = rcFullStoreFor(docs, dir, hashed = false)
      contentNovelty(retractedRefcountedRows(s, flagged, path), flagged)
    },

    // HASHED REFCOUNTED STORE (see [[hashedRefcountedWindowStore]]):
    // q150's lifecycle verbatim over the 8-byte XXH64 representation —
    // the declared 100 TB store (q133's move, now for the retractable
    // variant): absorb/retract join shuffles ship longs, the store is an
    // order of magnitude smaller, counts identical absent a 64-bit
    // collision. That identity is what lets the SAME string-window
    // oracle hash-check this path's values (fifth NoveltyOracleSql
    // consumer); RefcountStoreSpec pins the two stores' net-count tables
    // in bijection on the testdata corpora.
    "q156_novelty_retract_hashed" -> Q(
      "Hashed refcounted novelty store: q150's absorb-absorb-retract " +
        "lifecycle over 8-byte XXH64 window keys, gauge as if never absorbed",
      NoveltyOracleSql) { (s, dir) =>
      // PROBE form over the hashed twin — q150's probe verbatim at XXH64
      // keys against its own warm full-corpus store.
      val docs = Tables(s, dir, "documents")
      val flagged = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val path = rcFullStoreFor(docs, dir, hashed = true)
      hashedContentNovelty(
        retractedRefcountedRows(s, flagged, path, hashed = true), flagged)
    },

    // SNAPSHOT DIFF (see [[snapshotDiff]]): today's snapshot is derived
    // from the base deterministically — doc_id%11==0 removed, %7==0
    // content-changed (uppercased), %13==0 cloned to doc_id+1000000 as
    // the added set — so both engines construct the identical version
    // pair and the reconcile counts hash-check end-to-end.
    "q132_snapshot_diff" -> Q(
      "Corpus snapshot diff: per-source unchanged/changed/removed/added " +
        "counts between two versions, fingerprint-reconciled",
      """WITH v0 AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN md5(upper(text)) ELSE md5(text) END AS fp
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, md5(text) AS fp
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (SELECT COALESCE(v0.source, v1.source) AS source,
        |        CASE WHEN v1.fp IS NULL THEN 'removed'
        |             WHEN v0.fp IS NULL THEN 'added'
        |             WHEN v0.fp <> v1.fp THEN 'changed'
        |             ELSE 'unchanged' END AS st
        |      FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id)
        |SELECT source,
        |  CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added
        |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val v0 = Tables(s, dir, "documents")
      val v1 = v0.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .select(col("doc_id"), col("source"),
          when(pmod(col("doc_id"), lit(7)) === 0, upper(col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(v0.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("source"), col("text")))
      snapshotDiff(v0, v1)
    })
}
