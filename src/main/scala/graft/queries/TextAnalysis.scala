package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Text-analysis operators over the `documents` table: stats, quality
  * scoring, language guessing, token counting, fingerprinting. All pure
  * expressions — linear scans, no shuffles except the final aggregations,
  * trivially 100 TB-partitionable.
  *
  * Oracle-checked variants restrict themselves to arithmetic expressible
  * identically in DuckDB (length/replace/md5/position); the richer engine
  * functions (n-gram language profiles, BPE-ish token estimates, simhash)
  * live in [[graft.functions.Text]] and are covered by ScalaTest + the
  * no-oracle queries in [[Dedup]].
  */
object TextAnalysis {

  /** Pid-scoped dump root for q69's per-round pair-count tables (the
    * ANN-family dump-readback convention — see
    * [[graft.operators.BpeTrainer.learnMerges]]).
    */
  private val Q69Dir: String =
    s"${sys.props("java.io.tmpdir")}/graft_q69_pid${ProcessHandle.current().pid()}"

  // Portable token count: identical length/replace arithmetic both engines.
  private val tokSql =
    "CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END"

  /** The pinned BPE merge artifact behind q90: q69's trained output
    * ([[graft.operators.BpeTrainer.learn]], 16 merges on the sf0.01
    * corpus), shipped as a constant the way a deployed tokenizer ships its
    * merges file. BpeEncodeSpec re-trains and asserts this list is
    * byte-identical (artifact provenance), and asserts every symbol stays
    * inside [a-z0-9] — the property that makes the `<sym>` encode
    * representation below unambiguous.
    */
  val BpeMergesPinned: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar",
    "j" -> "o", "jo" -> "in", "a" -> "s", "as" -> "h", "h" -> "ash",
    "r" -> "ow")

  /** BPE encode as a pure codegen expression chain. Representation: every
    * character of `lower(text)` wraps as an angle-bracket token
    * (`regexp_replace '(.)' → '<$1>'`), then each pinned merge (l, r)
    * applies as the literal replacement `<l><r>` → `<lr>` in rank order.
    * Why this is EXACTLY classic BPE encode: `replace` substitutes
    * non-overlapping occurrences left-to-right — the greedy per-round rule
    * [[graft.functions.HashKernels.bpeMergePair]] implements — and because
    * every `<` in the string starts a token and merge symbols never
    * contain angle brackets, a pattern can only match whole adjacent
    * tokens (never mid-token, never across a wrapped literal `<`). Spaces
    * wrap as the `< >` token no merge contains, so merges cannot cross
    * word boundaries — the trainer's whitespace pre-tokenization, for
    * free. Null text null-propagates in both engines.
    */
  def bpeEncode(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    BpeMergesPinned.foldLeft(
      regexp_replace(lower(text), "(.)", "<$1>")) { case (c, (l, r)) =>
      replace(c, lit(s"<$l><$r>"), lit(s"<$l$r>"))
    }

  /** The identical chain as ANSI SQL for the q90 oracle (DuckDB RE2 uses
    * `\1` for the replacement group where Java uses `$1`; `replace` is
    * literal in both).
    */
  private val bpeEncodeSqlExpr: String =
    BpeMergesPinned.foldLeft("regexp_replace(lower(text), '(.)', '<\\1>', 'g')") {
      case (acc, (l, r)) => s"replace($acc, '<$l><$r>', '<$l$r>')"
    }

  /** q106's oracle: the full NB train + score + argmax replay in ANSI-ish
    * DuckDB SQL (the q88 pattern generalized to multi-class via one
    * candidate-class cross join + a ROW_NUMBER argmax).
    */
  private val langIdOracleSql =
    """WITH lab AS (
      |  SELECT doc_id, lang,
      |    text || ' ' || CASE lang
      |      WHEN 'en' THEN '0101010101' WHEN 'de' THEN '2323232323'
      |      WHEN 'es' THEN '4545454545' WHEN 'fr' THEN '6767676767'
      |      WHEN 'zh' THEN '8989898989' ELSE '9999999999' END AS text
      |  FROM documents),
      |tr AS (SELECT * FROM lab WHERE doc_id % 5 <> 0),
      |ho AS (SELECT * FROM lab WHERE doc_id % 5 = 0),
      |cnts AS (
      |  SELECT lang, tok, COUNT(*) AS n
      |  FROM (SELECT lang, unnest(list_transform(range(1, length(text)),
      |                i -> substr(text, i, 2))) AS tok FROM tr)
      |  GROUP BY lang, tok),
      |tot AS (SELECT lang, SUM(n) AS tot FROM cnts GROUP BY lang),
      |vv AS (SELECT COUNT(DISTINCT tok) AS v FROM cnts),
      |pri AS (SELECT lang, COUNT(*) AS nd FROM tr GROUP BY lang),
      |nt AS (SELECT COUNT(*) AS ndocs FROM tr),
      |ht AS (
      |  SELECT doc_id, lang, tok, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, lang, unnest(list_transform(range(1, length(text)),
      |                i -> substr(text, i, 2))) AS tok FROM ho)
      |  GROUP BY doc_id, lang, tok),
      |sc AS (
      |  SELECT h.doc_id, h.lang, c.lang AS cls,
      |    LN(CAST(p.nd AS DOUBLE) / n.ndocs)
      |      + SUM(h.cnt * LN((COALESCE(k.n, 0) + 1) / CAST(t.tot + v.v AS DOUBLE))) AS s
      |  FROM ht h
      |  CROSS JOIN (SELECT DISTINCT lang FROM tr) c
      |  LEFT JOIN cnts k ON k.lang = c.lang AND k.tok = h.tok
      |  JOIN tot t ON t.lang = c.lang
      |  JOIN pri p ON p.lang = c.lang
      |  CROSS JOIN vv v CROSS JOIN nt n
      |  GROUP BY h.doc_id, h.lang, c.lang, p.nd, n.ndocs, t.tot, v.v),
      |pr AS (
      |  SELECT doc_id, lang, cls,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cls) AS rn
      |  FROM sc)
      |SELECT lang, cls AS predicted, COUNT(*) AS n_docs
      |FROM pr WHERE rn = 1
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  /** q127's oracle, shared with its hashed twin q145 (the q59/q68 pattern):
    * the twin's output is row-identical to the string form, so one DuckDB
    * statement hash-checks both the oracle path and the scale path.
    */
  private val BoilerplateOracleSql: String =
    """WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |s AS (SELECT source, doc_id,
      |        CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |             ELSE list_transform(range(1, len(toks)),
      |                                 i -> array_to_string(toks[i:i+1], ' ')) END AS sh
      |      FROM t),
      |g AS (SELECT DISTINCT source, doc_id, unnest(sh) AS g FROM s),
      |nd AS (SELECT source, COUNT(DISTINCT doc_id) AS nd
      |       FROM documents GROUP BY source),
      |df AS (SELECT source, g, COUNT(*) AS df FROM g GROUP BY source, g),
      |bp AS (SELECT df.source, df.g FROM df JOIN nd USING (source)
      |       WHERE df >= CEIL(0.2 * nd)),
      |pd AS (SELECT g.source, g.doc_id,
      |         COUNT(*) AS n_windows, COUNT(bp.g) AS n_bp
      |       FROM g LEFT JOIN bp ON g.source = bp.source AND g.g = bp.g
      |       GROUP BY g.source, g.doc_id)
      |SELECT doc_id, source, n_windows, n_bp,
      |  CAST(FLOOR(1000.0 * n_bp / n_windows) AS BIGINT) AS bp_permille
      |FROM pd ORDER BY doc_id""".stripMargin

  /** q179: the token COVERAGE CURVE — for each vocabulary budget N on the
    * grid, the share of all token occurrences the top-N most frequent
    * terms cover. The planning gauge behind a tokenizer's vocab-size
    * choice (and behind OOV-rate expectations): one term-count pass, then
    * the grid sweeps a bounded statistic (the q130/q148 house pattern).
    *
    * Scale posture: the full vocabulary is unbounded at corpus scale, so
    * the cumulative machinery must never see it. Only the TOP max(grid)
    * terms matter, and `orderBy.limit` plans as TakeOrdered — each
    * partition keeps its local top-k, one bounded merge follows — after
    * which the row_number window runs over ≤ max(grid) rows (a bounded
    * single partition by construction, like the ≤1001-row adaptive
    * threshold histograms). Ties break on the term string: the order is
    * total, so the top-N SET is deterministic on both engines. The
    * coverage share is integer cross-multiplication (covered·10000 DIV
    * total) — no float anywhere.
    */
  def tokenCoverage(
      docs: DataFrame,
      grid: Seq[Int] = Seq(10, 100, 1000, 10000)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cnt = docs
      .select(explode(split(col("text"), " ", -1)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).cast("long").as("total_occ"))
    val top = cnt.orderBy(col("cnt").desc, col("term").asc).limit(grid.max)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("term").asc)))
    top.join(broadcast(grid.toDF("n_top")), col("rnk") <= col("n_top"))
      .groupBy("n_top")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("cnt")).cast("long").as("covered_occ"))
      .crossJoin(broadcast(total))
      .select(col("n_top"), col("n_terms"), col("covered_occ"),
        col("total_occ"),
        expr("covered_occ * 10000 div total_occ").as("covered_bp"))
      .orderBy("n_top")
  }

  val all: Map[String, Q] = Map(
    // BOILERPLATE detection (the CCNet/RefinedWeb header-footer screen):
    // a window that recurs across a large fraction of ONE SOURCE's
    // documents is template text (nav bars, cookie banners, licence
    // blurbs), not content — the per-doc boilerplate fraction is the
    // quality signal a curation pass filters or strips on. Detection is
    // per-source document frequency over DISTINCT per-doc windows (the
    // q124 explode shape); the boilerplate set is tiny BY CONSTRUCTION
    // (only windows above the DF floor survive), so it broadcasts back
    // against the corpus windows — no corpus-side shuffle beyond the DF
    // aggregate itself. Counts and the per-mille floor are integer-exact
    // cross-engine. Registered at k=2, floor=20% of the source's docs —
    // measured on the fixture corpus: per-doc boilerplate counts span
    // 0–9 with ~18% of docs at zero, so the signal discriminates.
    "q127_boilerplate" -> Q(
      "Boilerplate screen: per-source high-DF 2-gram windows (>=20% of " +
        "docs), per-doc boilerplate window count + per-mille fraction",
      BoilerplateOracleSql) { (s, dir) =>
      boilerplateScore(Tables(s, dir, "documents"))
    },

    // The registered, BENCHED hashed-window twin of q127 (see
    // [[hashedBoilerplateScore]]): DuckDB cannot recompute XXH64 window
    // keys, but the twin's OUTPUT is row-identical to the string form
    // (DriftGaugesSpec pins it), so q127's oracle statement hash-checks
    // this path's values too — the q68/q133 precedent, closing the last
    // string-payload exchange in the gauge family.
    "q145_boilerplate_hashed" -> Q(
      "Boilerplate screen over 8-byte hashed windows (q127's scale twin — " +
        "same counts, long keys through the DF aggregate)",
      BoilerplateOracleSql) { (s, dir) =>
      hashedBoilerplateScore(Tables(s, dir, "documents"))
    },

    // Repetition-based quality filtering (the Gopher/C4 rule family):
    // documents dominated by repeated words or one repeated bigram are
    // boilerplate/spam signals a pretraining curation pass drops. Both
    // metrics come from ONE codegen'd kernel pass per row
    // ([[graft.functions.HashKernels.repetitionStats]]: hash tokens once,
    // sort longs, read run-lengths) — the corpus is never re-keyed by
    // n-gram, so at 100 TB this is a shuffle-free codegen Project. The
    // earlier `aggregate`-HOF form computed the same numbers but
    // interpreted (HOFs are CodegenFallback) over sorted bigram STRINGS —
    // the kernel swap is a pure perf change, value-identical (spec-pinned
    // in FunctionsSpec). The oracle SQL reaches the same numbers the
    // expensive way (explode + group). Fractions are single IEEE divisions
    // of exact integers, so both engines hash identically.
    "q64_repetition_filter" -> Q(
      "Gopher-style repetition quality filter: duplicate-word and top-bigram " +
        "fractions per doc + keep flag (shuffle-free per-row metrics)",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_tok,
        |             len(list_distinct(toks)) AS n_distinct FROM t),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM (
        |         SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |                  i -> toks[i] || ' ' || toks[i+1])) AS g
        |         FROM t) GROUP BY doc_id, g),
        |tb AS (SELECT doc_id, MAX(c) AS top_c FROM bc GROUP BY doc_id)
        |SELECT m.doc_id,
        |  CAST(m.n_tok AS BIGINT) AS n_tok,
        |  CAST(m.n_tok - m.n_distinct AS DOUBLE) / m.n_tok AS dup_word_frac,
        |  CASE WHEN m.n_tok > 1
        |       THEN CAST(tb.top_c AS DOUBLE) / (m.n_tok - 1) ELSE 0.0
        |  END AS top_bigram_frac,
        |  CAST(CASE WHEN CAST(m.n_tok - m.n_distinct AS DOUBLE) / m.n_tok <= 0.6
        |        AND (CASE WHEN m.n_tok > 1
        |                  THEN CAST(tb.top_c AS DOUBLE) / (m.n_tok - 1) ELSE 0.0 END) <= 0.08
        |       THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM m LEFT JOIN tb USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val st = graft.functions.HashExpressions
        .repetitionStats(split(col("text"), " ", -1))
      val nTok = element_at(col("st"), 1)
      val dupFrac = (nTok - element_at(col("st"), 2)).cast("double") / nTok
      val topFrac = when(nTok > 1,
        element_at(col("st"), 3).cast("double") / (nTok - 1)).otherwise(lit(0.0))
      Tables(s, dir, "documents")
        .select(col("doc_id"), st.as("st"))
        .select(
          col("doc_id"),
          nTok.as("n_tok"),
          dupFrac.as("dup_word_frac"),
          topFrac.as("top_bigram_frac"),
          when(dupFrac <= 0.6 && topFrac <= 0.08, 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    },

    // Vocabulary-health diagnostic #1: the Zipf slope. A natural-language
    // stratum fits ln(count) ≈ α + s·ln(rank) with s ≈ −1; templated/
    // machine-generated strata flatten or steepen it, so the per-source
    // slope is a cheap corpus-quality screen. Scale shape: the corpus-sized
    // work is ONE token explode collapsing straight into the (source, term)
    // count aggregate (map-side partials); everything after — rank window,
    // OLS sums — runs on the VOCAB-sized table. Cross-engine hashing needs
    // care on two fronts, both handled the established way: ranks are total
    // (count desc, term asc tie-break = binary collation in both engines),
    // and the OLS sums use the q05 decimal trick (per-value DECIMAL(18,6)
    // cast of the ln values, exact order-independent decimal sums, one
    // deterministic double formula at the end).
    "q79_zipf_slope" -> Q(
      "Per-source Zipf slope: OLS of ln(term count) on ln(rank), decimal-exact sums",
      """WITH tc AS (SELECT source, term, COUNT(*) AS c FROM (
        |       SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |     GROUP BY source, term),
        |rk AS (SELECT source, c, ROW_NUMBER() OVER (
        |         PARTITION BY source ORDER BY c DESC, term) AS r FROM tc),
        |v AS (SELECT source, CAST(ln(r) AS DECIMAL(18,6)) AS lx,
        |             CAST(ln(c) AS DECIMAL(18,6)) AS ly FROM rk),
        |a AS (SELECT source, COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
        |             SUM(lx*ly) AS sxy, SUM(lx*lx) AS sxx FROM v GROUP BY source)
        |SELECT source, n,
        |  ROUND((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 4)
        |    AS zipf_slope
        |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
      val tc = Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ", -1)).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
      val rankW = Window.partitionBy("source").orderBy(col("c").desc, col("term"))
      val v = tc.withColumn("r", row_number().over(rankW))
        .select(col("source"),
          log(col("r").cast("double")).cast("decimal(18,6)").as("lx"),
          log(col("c").cast("double")).cast("decimal(18,6)").as("ly"))
      val a = v.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"), sum(col("lx") * col("lx")).as("sxx"))
      def d(c: String) = col(c).cast("double")
      a.select(col("source"), col("n"),
          round((d("n") * d("sxy") - d("sx") * d("sy"))
            / (d("n") * d("sxx") - d("sx") * d("sx")), 4).as("zipf_slope"))
        .orderBy("source")
    },

    // Within-doc repetition REWRITE (q64/q75 only measure): collapse runs
    // of consecutive identical tokens to one occurrence — the CCNet-style
    // normalization that runs before token counting so "the the the" bills
    // one token. Pure per-row codegen HOF (filter-with-index over the
    // token array): no shuffle, no state, embarrassingly parallel at any
    // scale. 388/500 sf0.01 docs change; up to 9 tokens collapse. The
    // lambda keeps token i iff i==0 or it differs from its predecessor
    // (element_at is 1-based, the lambda index 0-based, so element_at(ts,i)
    // IS the predecessor); a run of length r keeps exactly its first
    // element — both engines implement the same "compare to raw
    // predecessor" rule, so the outputs hash-match including the rewritten
    // text itself.
    "q85_collapse_repeats" -> Q(
      "Collapse consecutive duplicate tokens per doc (within-doc repetition " +
        "rewrite); emits before/after counts and the rewritten text",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, len(toks) AS n_before,
        |        list_filter(toks, (x, i) -> i = 1 OR toks[i-1] <> x) AS keep
        |      FROM t)
        |SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
        |  CAST(len(keep) AS BIGINT) AS n_after,
        |  array_to_string(keep, ' ') AS clean_text
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ts = split(col("text"), " ", -1)
      val keep = filter(ts, (x, i) => i === 0 || element_at(ts, i) =!= x)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(ts).cast("long").as("n_before"),
          size(keep).cast("long").as("n_after"),
          concat_ws(" ", keep).as("clean_text"))
        .orderBy("doc_id")
    },

    // Vocabulary-health diagnostic #3 ([[tokenCoverage]]): the coverage
    // curve a tokenizer budget is planned against — what share of ALL
    // token occurrences the top-N most frequent terms cover, swept over a
    // vocabulary-size grid from ONE term-count pass (the q130/q148
    // calibration-sweep pattern). Scale lever: the curve only needs the
    // TOP max(grid) terms, taken with orderBy+limit (distributed
    // TakeOrdered — a per-partition top-k then one bounded merge), so the
    // window/cumsum machinery never sees the full vocabulary, which at
    // corpus scale is exactly the thing that doesn't fit one reducer.
    // Ordering ties break on the term string — total order, both engines.
    // Coverage share is integer cross-multiplication (covered·10000 DIV
    // total), no float anywhere.
    "q179_token_coverage" -> Q(
      "Token coverage curve: share of all token occurrences covered by " +
        "the top-N terms, N swept from one term-count pass",
      """WITH cnt AS (
        |  SELECT term, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term),
        |tot AS (SELECT SUM(cnt) AS total_occ FROM cnt),
        |rk AS (SELECT term, cnt,
        |         ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk
        |       FROM cnt),
        |grid AS (SELECT UNNEST([10, 100, 1000, 10000]) AS n_top)
        |SELECT g.n_top,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(r.cnt) AS BIGINT) AS covered_occ,
        |  CAST((SELECT total_occ FROM tot) AS BIGINT) AS total_occ,
        |  CAST((SUM(r.cnt) * 10000) // (SELECT total_occ FROM tot) AS BIGINT)
        |    AS covered_bp
        |FROM grid g JOIN rk r ON r.rnk <= g.n_top
        |GROUP BY g.n_top ORDER BY g.n_top""".stripMargin) { (s, dir) =>
      tokenCoverage(Tables(s, dir, "documents"))
    },

    // Vocabulary-health diagnostic #2: the document-frequency histogram
    // (how much of the vocab is hapax/rare vs stopword-grade). Buckets are
    // ⌊log2(df)⌋ computed INTEGER-EXACTLY as length(bin(df))−1 — both
    // engines agree bit-for-bit, where float log2 could straddle a floor
    // boundary at exact powers of two. One corpus-sized explode into the
    // per-term distinct-doc count; the histogram itself is vocab-sized.
    "q80_df_histogram" -> Q(
      "Vocabulary DF histogram: log2 buckets (integer-exact), term and occurrence mass",
      """WITH tf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |    GROUP BY term)
        |SELECT CAST(LENGTH(bin(df)) - 1 AS BIGINT) AS df_bucket,
        |       COUNT(*) AS n_terms, CAST(SUM(df) AS BIGINT) AS total_df
        |FROM tf GROUP BY df_bucket ORDER BY df_bucket""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("term"))
        .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        .groupBy((length(bin(col("df"))) - 1).cast("long").as("df_bucket"))
        .agg(count(lit(1)).as("n_terms"), sum(col("df")).cast("long").as("total_df"))
        .orderBy("df_bucket")
    },

    "q27_text_stats" -> Q(
      "Per-document stats: length + whitespace token count",
      s"""SELECT doc_id, n_chars, LENGTH(text) AS len,
         |  CAST($tokSql AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(
          col("doc_id"), col("n_chars"),
          length(col("text")).as("len"),
          Text.tokenCountPortable(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    },

    "q28_quality" -> Q(
      "Quality signals: non-space density, avg token length, marker-char count",
      s"""SELECT doc_id,
         |  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / LENGTH(text) AS density,
         |  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / CAST($tokSql AS DOUBLE) AS avg_tok_len,
         |  LENGTH(text) - LENGTH(REPLACE(text, 'the', '')) AS the_chars
         |FROM documents WHERE LENGTH(text) > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = col("text")
      val nonSpace = length(replace(t, lit(" "), lit(""))).cast("double")
      Tables(s, dir, "documents")
        .filter(length(t) > 0)
        .select(
          col("doc_id"),
          (nonSpace / length(t)).as("density"),
          (nonSpace / Text.tokenCountPortable(t).cast("double")).as("avg_tok_len"),
          (length(t) - length(replace(t, lit("the"), lit("")))).as("the_chars"))
        .orderBy("doc_id")
    },

    "q29_lang_guess" -> Q(
      "Deterministic marker-word language guess (portable CASE form)",
      """SELECT doc_id, lang,
        |  CASE WHEN POSITION(' der ' IN text) > 0 THEN 'de'
        |       WHEN POSITION(' le ' IN text) > 0 THEN 'fr'
        |       WHEN POSITION(' el ' IN text) > 0 THEN 'es'
        |       WHEN POSITION(' the ' IN text) > 0 THEN 'en'
        |       ELSE 'und' END AS lang_guess
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = col("text")
      Tables(s, dir, "documents")
        .select(
          col("doc_id"), col("lang"),
          when(instr(t, " der ") > 0, "de")
            .when(instr(t, " le ") > 0, "fr")
            .when(instr(t, " el ") > 0, "es")
            .when(instr(t, " the ") > 0, "en")
            .otherwise("und").as("lang_guess"))
        .orderBy("doc_id")
    },

    "q30_fingerprint" -> Q(
      "Content fingerprint (md5 of normalized text)",
      """SELECT doc_id, MD5(LOWER(TRIM(text))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    "q31_tokens_by_source" -> Q(
      "Corpus token accounting per source (map-side partial agg)",
      s"""SELECT source,
         |  CAST(SUM($tokSql) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  COUNT(*) AS n_docs
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy("source")
        .agg(
          sum(Text.tokenCountPortable(col("text"))).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    },

    "q41_bpe_tokens" -> Q(
      "BPE-style subword pre-tokenization counts (regex runs of letters/digits/punct)",
      s"""SELECT doc_id,
         |  CAST(LEN(regexp_extract_all(LOWER(text), '${Text.BpeSplitPattern}')) AS BIGINT)
         |    AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.bpeTokenCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // BPE vocabulary INDUCTION (not just application): learn the merge
    // table from the corpus — the tokenizer-training step q41's fixed
    // vocab presupposed. One corpus pass reduces to the distinct-word
    // frequency table; each merge round is an aggregate over THAT table
    // plus one driver-bound row (see [[graft.operators.BpeTrainer]]).
    // ORACLED since round 15 via the dump-readback move (the q95
    // eigenbasis precedent for driver-solve operators): every round's
    // full pair-count table dumps pid-scoped, the engine selects its
    // argmax from the READBACK, and DuckDB replays the whole
    // merge-sequence selection — per-round `row_number() over (pc desc,
    // l, r) = 1` with the same minPairCount floor — so a tie-break or
    // selection bug anywhere in the chain hash-fails. The per-round
    // counting + greedy merge application stay spec-closed (BpeSpec's
    // bit-exact identity against the plain-Scala reference trainer).
    "q69_bpe_learn" -> Q(
      "BPE vocabulary induction: learn 16 merges from the corpus " +
        "(per-round pair-count dump; both engines replay the argmax chain)",
      s"""SELECT round AS "rank", l AS "left", r AS "right", pc AS pair_count
         |FROM (SELECT round, l, r, pc,
         |        ROW_NUMBER() OVER (PARTITION BY round
         |          ORDER BY pc DESC, l, r) AS rn
         |      FROM read_parquet('$Q69Dir/pairs_r*/*.parquet'))
         |WHERE rn = 1 AND pc >= 2 ORDER BY "rank"""".stripMargin) { (s, dir) =>
      graft.operators.BpeTrainer
        .learn(Tables(s, dir, "documents"), numMerges = 16,
          pairDumpDir = Some(Q69Dir))
        .orderBy("rank")
    },

    // Corpus normalization — the first stage of every training-data
    // pipeline: lowercase, mask emails/URLs, collapse whitespace. Pure
    // regexp_replace chain (codegen, linear, shuffle-free); the shared
    // RE2-safe patterns make the full cleaned STRING hash-comparable
    // against DuckDB, so the oracle pins every masking rule exactly.
    // BPE tokenizer APPLICATION — the deploy-time half q69's training
    // produces: encode the corpus under a PINNED merge table (a tokenizer
    // is a shipped artifact; [[BpeMergesPinned]] is q69's 16-merge output
    // on sf0.01, provenance spec-asserted). Classic encode semantics —
    // merges apply in rank order, each greedily left-to-right
    // non-overlapping — fall out of plain string replacement on an
    // unambiguous `<sym>` token representation (see [[bpeEncode]]), so the
    // whole encode is a codegen'd replace CHAIN: one linear pass, no
    // shuffle, no UDF, and the oracle replays it with the identical
    // replace chain in DuckDB. At 100 TB this is the shape you want
    // tokenization to have: a Project over the scan, partition-parallel
    // by construction.
    "q90_bpe_encode" -> Q(
      "BPE tokenizer application: encode under the pinned 16-merge artifact " +
        "(codegen replace chain), per-doc token counts + encoded text",
      s"""WITH enc AS (SELECT doc_id, text, $bpeEncodeSqlExpr AS e FROM documents)
         |SELECT doc_id,
         |  LENGTH(e) - LENGTH(REPLACE(e, '<', ''))
         |    - (LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) AS n_tokens,
         |  e AS encoded
         |FROM enc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val enc = bpeEncode(col("text"))
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          (length(enc) - length(replace(enc, lit("<"), lit(""))) -
            (length(col("text")) - length(replace(col("text"), lit(" "), lit("")))))
            .as("n_tokens"),
          enc.as("encoded"))
        .orderBy("doc_id")
    },

    "q54_clean_text" -> Q(
      "Text normalization: lowercase + email/URL masking + whitespace collapse, " +
        "with masking audit counts",
      s"""SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
         |    '${Text.EmailPattern}', '<email>', 'g'),
         |    '${Text.UrlPattern}', '<url>', 'g'),
         |    '[ \\t\\n\\r]+', ' ', 'g')) AS cleaned,
         |  CAST(LEN(regexp_extract_all(lower(text), '${Text.EmailPattern}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(LEN(regexp_extract_all(lower(text), '${Text.UrlPattern}')) AS BIGINT)
         |    AS n_urls
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.cleanText(col("text")).as("cleaned"),
          Text.matchCount(col("text"), Text.EmailPattern).as("n_emails"),
          Text.matchCount(col("text"), Text.UrlPattern).as("n_urls"))
        .orderBy("doc_id")
    },

    // CCNet-style LM quality scoring: train an add-one-smoothed bigram LM
    // on the corpus itself, score every document by its mean bigram
    // log-likelihood — the standard "does this text look like the rest of
    // the corpus" curation signal (outliers → boilerplate/garbage). Scale
    // shape: the LM is TWO aggregates over the exploded bigram stream
    // (map-side partials carry the weight; the count table is vocab²-
    // bounded, the prefix table vocab-bounded), and scoring is one
    // equi-join of the doc-bigram stream against those bounded tables —
    // the only corpus-sized shuffle is the score join's (w1, w2) re-key,
    // the same key the hashed-twin pattern (q67/q68) shrinks to 8 bytes
    // when vocab strings get long. V rides a broadcast 1-row crossJoin
    // (the q49 precedent). avg(ln) is rounded to 4 decimals on both
    // engines: each ln agrees to ~1 ulp cross-engine and the sum to
    // ~n·ulp, so the rounded value is hash-stable while still pinning the
    // whole smoothing formula value-for-value.
    "q73_lm_score" -> Q(
      "Bigram-LM quality score: per-doc mean add-one-smoothed log-likelihood " +
        "under a corpus-trained LM (bounded LM tables; one score join)",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |         unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
        |       FROM toks),
        |bgc AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
        |pref AS (SELECT w1, SUM(c) AS cp FROM bgc GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toks)),
        |scored AS (SELECT b.doc_id,
        |             ln((bgc.c + 1.0) / (pref.cp + v.v)) AS lp
        |           FROM bg b JOIN bgc USING (w1, w2) JOIN pref USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       round(avg(lp), 4) AS avg_logp
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      bigramLmScores(Tables(s, dir, "documents"))
    },

    // Gopher-style composed rule filter — the standard pre-training gate
    // (Rae et al. 2021 §A1 shapes, re-cut to this corpus's bands): word
    // count band, mean-word-length band, unique-token ratio, stopword
    // presence. One codegen Project over the scan: no shuffle, no join, no
    // UDF — the 100 TB plan IS this plan, partition-parallel by
    // construction. Every signal is length/replace/list arithmetic both
    // engines evaluate identically, so the whole gate is hash-checked
    // (unlike q28, which scores but doesn't gate). Thresholds discriminate
    // on the testdata corpus (sf0.01: word band drops 106/500 docs,
    // unique-ratio 281/500) so `pass` is a real decision, not a constant.
    "q92_quality_rules" -> Q(
      "Composed quality-rule gate: word-count band, mean word length, " +
        "unique-token ratio, stopword hits -> per-rule flags + pass",
      s"""SELECT doc_id, n_words, mean_wlen, uniq_ratio, stop_hits,
         |  CAST(n_words BETWEEN 30 AND 120 AS INTEGER) AS r_len,
         |  CAST(mean_wlen BETWEEN 3 AND 10 AS INTEGER) AS r_wlen,
         |  CAST(uniq_ratio >= 0.5 AS INTEGER) AS r_uniq,
         |  CAST(stop_hits >= 2 AS INTEGER) AS r_stop,
         |  CAST(n_words BETWEEN 30 AND 120 AND mean_wlen BETWEEN 3 AND 10
         |       AND uniq_ratio >= 0.5 AND stop_hits >= 2 AS INTEGER) AS pass
         |FROM (
         |  SELECT doc_id,
         |    CAST($tokSql AS BIGINT) AS n_words,
         |    CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
         |      / CAST($tokSql AS DOUBLE) AS mean_wlen,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
         |    CAST((CASE WHEN POSITION(' the ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
         |       + (CASE WHEN POSITION(' a ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
         |       + (CASE WHEN POSITION(' of ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
         |       + (CASE WHEN POSITION(' and ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS stop_hits
         |  FROM documents WHERE LENGTH(text) > 0)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      qualityRules(Tables(s, dir, "documents"))
    },

    // Tokenizer FERTILITY (tokens emitted per word) is the standard
    // deploy-time audit of a trained tokenizer against a corpus mix: a
    // source whose fertility spikes is one the vocabulary underserves
    // (cost + truncation risk scale with it). Rides q90's pinned-artifact
    // encode chain — every `<` in the encoded form starts exactly one
    // token, so the token count is pure length arithmetic; per-source
    // sums are integer-exact, the single final division is one IEEE op.
    // One scan → one map-side-collapsed per-source aggregate.
    // The one quality signal regex arithmetic can't express: actual
    // compressibility. Boilerplate/template/spam text deflates far below
    // typical prose (the CCNet/Gopher "compression ratio" screen). No
    // Catalyst expression wraps zlib, so this is the documented
    // mapPartitions exception (the Multimodal decode precedent): one
    // Deflater per PARTITION (reset per row, never reallocated),
    // partition-local, no shuffle — the 100 TB shape is unchanged.
    // zlib output depends on the zlib build, not on partitioning or row
    // order → deterministic in-engine but not ANSI-replayable: rows-only;
    // CompressSpec pins the discriminating property on planted fixtures
    // and determinism across reruns.
    // ORACLE CLOSURE: rows-only is FINAL — DuckDB ships no zlib deflate
    // function, and compressed byte counts are zlib-build-specific.
    "q101_compress_ratio" -> Q.noOracle(
      "Compression-ratio quality signal: deflate(text) bytes / raw bytes " +
        "per doc (partition-local Deflater, no shuffle)") { (s, dir) =>
      compressionRatio(Tables(s, dir, "documents"))
    },

    "q99_bpe_fertility" -> Q(
      "Per-source tokenizer fertility under the pinned q90 BPE artifact: " +
        "total words, bpe tokens, tokens-per-word",
      s"""WITH enc AS (SELECT source, text, $bpeEncodeSqlExpr AS e FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM($tokSql) AS BIGINT) AS total_words,
         |  CAST(SUM(LENGTH(e) - LENGTH(REPLACE(e, '<', ''))) AS BIGINT) AS total_tokens,
         |  CAST(SUM(LENGTH(e) - LENGTH(REPLACE(e, '<', ''))) AS DOUBLE)
         |    / SUM($tokSql) AS fertility
         |FROM enc GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val e = bpeEncode(col("text"))
      val nTok = (length(e) - length(replace(e, lit("<"), lit("")))).cast("long")
      Tables(s, dir, "documents")
        .select(col("source"), Text.tokenCountPortable(col("text")).as("w"), nTok.as("t"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("w")).as("total_words"),
          sum(col("t")).as("total_tokens"),
          (sum(col("t")).cast("double") / sum(col("w"))).as("fertility"))
        .orderBy("source")
    },

    // TRAINED language ID — the q29 heuristic upgraded to a model FIT ON
    // THE CORPUS with the q88 one-pass NB machinery: char-BIGRAM
    // multinomial Naive Bayes (char n-grams being what real LID models —
    // fastText, CLD — consume), trained on doc_id%5!=0 with `lang` as the
    // label, holdout confusion matrix out. The corpus' lang labels sit on
    // IDENTICAL word-soup (no organic signal — the q88 precedent), so the
    // query plants a deterministic per-language digit marker; digits are
    // absent from the base text, which makes per-class bigram odds
    // decisive (~60-nat margins: cross-engine argmax is hash-safe).
    // Scale: the model (per-(lang,bigram) counts) is vocabulary-sized —
    // broadcast; the holdout side streams once; classes fan out ×|langs|
    // (bounded by construction).
    "q106_lang_id" -> Q(
      "Trained language ID: char-bigram multinomial NB on planted markers, " +
        "holdout confusion matrix",
      langIdOracleSql) { (s, dir) =>
      langIdConfusion(Tables(s, dir, "documents"))
    })

  /** The planted per-language markers behind q106 (the q88 SpamSnippets
    * precedent): digit runs, disjoint bigram alphabets per language,
    * absent from the base vocabulary — so the trained model's per-class
    * odds on marker bigrams are decisive and SQL-replayable.
    */
  private[queries] val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "0101010101", "de" -> "2323232323", "es" -> "4545454545",
    "fr" -> "6767676767", "zh" -> "8989898989")

  /** Per-holdout-doc NB language scores (log-probabilities), one row per
    * (doc, candidate class) — exposed so LangIdSpec can assert decision
    * MARGINS, not just the argmax (same contract as nbQualityScores).
    */
  def langIdScores(docs: DataFrame): DataFrame = {
    val marker = LangMarkers.tail
      .foldLeft(when(col("lang") === LangMarkers.head._1, LangMarkers.head._2)) {
        case (w, (l, m)) => w.when(col("lang") === l, m)
      }.otherwise("9999999999")
    val labeled = docs.select(
      col("doc_id"), col("lang"),
      concat(col("text"), lit(" "), marker).as("text"))
    val train = labeled.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val holdout = labeled.filter(pmod(col("doc_id"), lit(5)) === 0)
    // char bigrams via one array build per row — single-scan, codegen'd
    def bigrams = explode(expr(
      "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")).as("tok")

    // snapped (the incrementalRelease lever): the model table feeds the
    // per-class totals, the joint-vocab count and the scoring join —
    // unsnapped, each of those consumers re-ran the char-bigram explode +
    // count over the whole train split (measured 3 executions of the
    // heaviest stage at sf0.1). Vocabulary-sized, so the snap is tiny and
    // the measured-size leaf keeps the scoring joins broadcast-planned.
    val cnts = org.apache.spark.sql.graft.shims.snap(
      train.select(col("lang"), bigrams)
        .groupBy("lang", "tok").agg(count(lit(1)).as("n")), "langid.counts")
    // model constants: per-class token totals + doc priors, joint vocab
    // size, train doc count — all tiny (|langs| rows / scalars), broadcast
    val classes = cnts.groupBy("lang").agg(sum("n").as("tot"))
      .join(train.groupBy("lang").agg(count(lit(1)).as("nd")), "lang")
      .crossJoin(cnts.agg(countDistinct("tok").as("v")))
      .crossJoin(train.agg(count(lit(1)).as("ndocs")))
      .select(col("lang").as("cls"), col("tot"), col("nd"), col("v"), col("ndocs"))

    holdout.select(col("doc_id"), col("lang"), bigrams)
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(classes))
      .join(broadcast(cnts.select(col("lang").as("cls"), col("tok"), col("n"))),
        Seq("cls", "tok"), "left")
      .groupBy("doc_id", "lang", "cls")
      .agg(
        (first(log(col("nd").cast("double") / col("ndocs"))) +
          sum(col("cnt") * log(
            (coalesce(col("n"), lit(0L)) + 1).cast("double") /
              (col("tot") + col("v"))))).as("s"))
  }

  /** q106: argmax over [[langIdScores]] → (lang, predicted, n_docs)
    * confusion matrix. Integer counts only reach the output.
    */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("s").desc, col("cls"))
    langIdScores(docs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }

  /** Gopher-style quality gate (q92): per-rule flags + composed pass bit.
    * Pure codegen expressions over one scan; see the q92 registration for
    * the rule rationale. Rules:
    *   r_len: 30 <= word count <= 120; r_wlen: mean word length in [3,10];
    *   r_uniq: distinct-token ratio >= 0.5; r_stop: >= 2 distinct stopword
    *   families present ({the, a, of, and}).
    *
    * [[qualityGate]] (everything but the presentation sort) is STATELESS —
    * no aggregate, no window, no join — so the same projection runs
    * unchanged on a streaming DataFrame (StreamingSpec pins it): the gate
    * a batch curation pass applies is the gate the ingest feed applies.
    */
  def qualityRules(docs: DataFrame): DataFrame =
    qualityGate(docs).orderBy("doc_id")

  /** q127: per-source boilerplate windows + per-doc boilerplate fraction —
    * see the registration comment. `n_windows` counts DISTINCT windows per
    * doc (a window repeated inside one doc is repetition, q64's concern,
    * not cross-doc boilerplate). Plan shape: one explode → per-(source,
    * window) DF aggregate; the surviving boilerplate set re-joins the doc
    * windows as a BROADCAST, and that broadcast is PROVABLY bounded
    * independently of corpus size: surviving needs df ≥ f·n_docs, and
    * Σ_w df_w = total (doc, window) pairs ≈ n_docs·w̄ (w̄ = mean distinct
    * windows per doc), so each source's set holds at most
    * (n_docs·w̄)/(f·n_docs) = w̄/f windows — ~2 500 at w̄≈500, f=0.2,
    * however many documents the source has. The per-doc rollup therefore
    * adds no corpus-sized exchange. At 100 TB run
    * [[hashedBoilerplateScore]] (q145) — the same plan over 8-byte hashed
    * windows.
    */
  def boilerplateScore(
      docs: DataFrame, k: Int = 2, dfFraction: Double = 0.2): DataFrame =
    boilerplateCore(docs,
      array_distinct(Text.shinglesSpaceSplit(col("text"), k)), dfFraction)

  /** q145: [[boilerplateScore]]'s 8-byte hashed-window twin — the declared
    * 100 TB scale path (the q59 → q68 / q124 → q133 precedent). The DF
    * aggregate — the plan's only corpus-sized exchange — shuffles XXH64
    * longs instead of k-gram strings, an order-of-magnitude smaller
    * payload at petabyte scale; counts are identical absent a 64-bit
    * collision within one source's window set (astronomically remote),
    * so q127's string oracle hash-checks this path's values too.
    * DriftGaugesSpec pins the twins row-identical on both testdata
    * corpora.
    */
  def hashedBoilerplateScore(
      docs: DataFrame, k: Int = 2, dfFraction: Double = 0.2): DataFrame =
    boilerplateCore(docs,
      array_distinct(transform(Text.shinglesSpaceSplit(col("text"), k),
        s => xxhash64(s))), dfFraction)

  /** The shared q127/q145 plan over a per-doc distinct-window array (string
    * or hashed — one definition, so the twins cannot drift).
    */
  private def boilerplateCore(
      docs: DataFrame,
      windows: org.apache.spark.sql.Column,
      dfFraction: Double): DataFrame = {
    val w = docs.select(col("source"), col("doc_id"), explode(windows).as("g"))
    val nd = docs.groupBy("source").agg(countDistinct(col("doc_id")).as("nd"))
    val bp = w.groupBy("source", "g").agg(count(lit(1)).as("df"))
      .join(broadcast(nd), "source")
      .filter(col("df") >= ceil(lit(dfFraction) * col("nd")))
      .select(col("source"), col("g"), lit(1).as("is_bp"))
    w.join(broadcast(bp), Seq("source", "g"), "left")
      .groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n_windows"), count(col("is_bp")).as("n_bp"))
      .select(col("doc_id"), col("source"), col("n_windows"), col("n_bp"),
        floor(lit(1000.0) * col("n_bp") / col("n_windows"))
          .cast("long").as("bp_permille"))
      .orderBy("doc_id")
  }

  /** q101: per-doc zlib compression ratio — see the registration comment.
    * Level 6 (zlib default), no dictionary; `n_bytes` is UTF-8 length.
    * Empty text reports ratio 0.0 (nothing to compress, nothing to flag).
    */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, t) =>
          val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, bytes.length.toLong, n,
            if (bytes.length == 0) 0.0 else n.toDouble / bytes.length)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate", "ratio")
      .orderBy("doc_id")
  }

  /** The order-free gate body — see [[qualityRules]]. */
  def qualityGate(docs: DataFrame): DataFrame = {
    val t = col("text")
    val toks = split(t, " ", -1)
    val nWords = Text.tokenCountPortable(t)
    val meanWlen = length(replace(t, lit(" "), lit(""))).cast("double") / nWords.cast("double")
    val uniqRatio = size(array_distinct(toks)).cast("double") / size(toks).cast("double")
    val padded = concat(lit(" "), t, lit(" "))
    val stopHits = Seq("the", "a", "of", "and")
      .map(w => when(instr(padded, s" $w ") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    def flag(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
    val rLen = col("n_words").between(30, 120)
    val rWlen = col("mean_wlen").between(3, 10)
    val rUniq = col("uniq_ratio") >= 0.5
    val rStop = col("stop_hits") >= 2
    docs.filter(length(t) > 0)
      .select(col("doc_id"), nWords.as("n_words"), meanWlen.as("mean_wlen"),
        uniqRatio.as("uniq_ratio"), stopHits.as("stop_hits"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen"),
        col("uniq_ratio"), col("stop_hits"),
        flag(rLen).as("r_len"), flag(rWlen).as("r_wlen"),
        flag(rUniq).as("r_uniq"), flag(rStop).as("r_stop"),
        flag(rLen && rWlen && rUniq && rStop).as("pass"))
  }

  /** The q73 plan — see the registration comment above for the scale
    * shape. Factored out so the spec can run it on fixture corpora with
    * hand-computable LM tables.
    */
  def bigramLmScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ", -1).as("t"))
    val bg = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bgc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val pref = bgc.groupBy("w1").agg(sum("c").as("cp"))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bg.join(bgc, Seq("w1", "w2"))
      .join(pref, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c") + lit(1.0)) / (col("cp") + col("v")))), 4).as("avg_logp"))
      .orderBy("doc_id")
  }
}
