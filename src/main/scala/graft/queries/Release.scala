package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.ops.StoreSwap

/** The RELEASE surface of the engine — everything between "the corpus is
  * curated" and "a training loader reads bytes": sequence packing (q58)
  * and its per-doc pack manifest (q157) with resume/append/retract
  * lifecycles (q159/q161), document-boundary packing (q163/q165/q167),
  * shard export + audit (q105/q126/q120/q162/q170), the dedup-gated
  * release manifest (q164) with its incremental daily form (q169) and
  * retract (q171), the takedown locator/execute/verify trio
  * (q172/q176/q177), the review sample (q175) and the integrity audit
  * (q166). Split from [[Curation]] at round 14 (registry hygiene — no
  * behavior change, the registrations and plans are verbatim); the two
  * objects share the q-registry vocabulary and a handful of
  * private[queries] helpers.
  */
object Release {

  /** Shared oracle: the q105 shard-export chain replayed end-to-end in
    * DuckDB (packing → md5 epoch shuffle → global-cumsum shard assignment
    * → per-shard manifest), WITHOUT the trailing ORDER BY so consumers
    * wrap it. q105 selects it directly; q126's audit oracle wraps it with
    * the all-`ok` status a clean store must report — one chain definition,
    * two hash checks that cannot drift apart (the ExactPairPrefixSql
    * precedent, here for the export).
    */
  private val ShardManifestSelectSql =
    """WITH t AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
      |  FROM documents),
      |p AS (
      |  SELECT source, doc_id, n_toks,
      |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM t),
      |d AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id, n_toks FROM p),
      |pk AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
      |       FROM d GROUP BY source, pack_id),
      |k AS (SELECT *,
      |        md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
      |      FROM pk),
      |c AS (SELECT *,
      |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
      |      FROM k),
      |a AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_id FROM c)
      |SELECT a.shard_id,
      |  COUNT(DISTINCT (d.source, d.pack_id)) AS n_seqs,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(d.n_toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(((d.doc_id % 2147483647) * 2654435761) % 1000000007) AS BIGINT)
      |    AS content_hash
      |FROM d JOIN a ON d.source = a.source AND d.pack_id = a.pack_id
      |GROUP BY a.shard_id""".stripMargin


  /** q157: the pack manifest — see the registration comment. The q58
    * cumsum kept at row grain, spans in pack-local coordinates.
    */
  def packManifest(
      docs: org.apache.spark.sql.DataFrame, packTokens: Int = 512): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("source"), col("doc_id"),
        size(split(col("text"), " ", -1)).as("tok"))
      .withColumn("off", coalesce(sum(col("tok")).over(w), lit(0)))
      .select(col("source"),
        floor(col("off") / packTokens).cast("long").as("pack_id"),
        col("doc_id"),
        pmod(col("off"), lit(packTokens.toLong)).cast("long").as("tok_start"),
        (pmod(col("off"), lit(packTokens.toLong)) + col("tok"))
          .cast("long").as("tok_end"),
        when(pmod(col("off"), lit(packTokens.toLong)) + col("tok") > packTokens, 1)
          .otherwise(0).cast("int").as("crosses_boundary"))
      .orderBy("source", "pack_id", "doc_id")
  }

  /** q159: the [[packManifest]] fold RESUMED from a persisted day-0
    * manifest — the continuation append. Where q120's immutable-file rule
    * starts the batch in fresh packs (published shard files are never
    * rewritten), the loader-manifest stream has no such constraint: the
    * token stream is continuous across days, so day-1's first doc fills
    * day-0's last partial context window. The resume offset per source is
    * recovered from the manifest's own coordinates — spans are contiguous,
    * so max(pack_id*packTokens + tok_end) IS the source's token total —
    * one ≤n_sources-row aggregate off a single store scan, broadcast back
    * onto the O(batch) window. The store rows pass through untouched:
    * incremental ≡ rebuild over the (day, doc_id)-ordered union, which is
    * exactly what the q159 oracle replays as one window.
    */
  def packManifestAppend(
      store: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      packTokens: Int = 512): org.apache.spark.sql.DataFrame =
    store.unionByName(
        packSpans(batch, packResumeOffsets(store, packTokens), packTokens))
      .orderBy("source", "pack_id", "doc_id")

  /** Per-source resume offsets of a pack manifest: spans are contiguous,
    * so max(pack_id*packTokens + tok_end) IS the source's token total.
    * ≤ n_sources rows — small enough to broadcast, or to collect when the
    * consumer must sever a read-write cycle ([[graft.streaming.PackIngestStream]]).
    */
  def packResumeOffsets(
      store: org.apache.spark.sql.DataFrame,
      packTokens: Int = 512): org.apache.spark.sql.DataFrame =
    store.groupBy("source")
      .agg(max(col("pack_id") * packTokens + col("tok_end")).as("base_off"))

  /** The batch's spans resumed from `base` (source, base_off) — the
    * appended-only half of [[packManifestAppend]]: one per-source window
    * over the batch, the base broadcast onto it. Sources absent from the
    * base start at offset 0.
    */
  def packSpans(
      batch: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.DataFrame,
      packTokens: Int = 512): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    batch
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ", -1)).as("tok"))
      .withColumn("local", coalesce(sum(col("tok")).over(w), lit(0)))
      .join(broadcast(base), Seq("source"), "left")
      .withColumn("off", coalesce(col("base_off"), lit(0L)) + col("local"))
      .select(col("source"),
        floor(col("off") / packTokens).cast("long").as("pack_id"),
        col("doc_id"),
        pmod(col("off"), lit(packTokens.toLong)).cast("long").as("tok_start"),
        (pmod(col("off"), lit(packTokens.toLong)) + col("tok"))
          .cast("long").as("tok_end"),
        when(pmod(col("off"), lit(packTokens.toLong)) + col("tok") > packTokens, 1)
          .otherwise(0).cast("int").as("crosses_boundary"))
  }

  /** Power-of-two slot boundaries for [[boundaryPack]] — ONE list builds
    * both the Spark cascade and the oracle's CASE arms, so the two
    * engines cannot disagree on bucketing (and no float log2 enters:
    * the house integer-exactness rule).
    */
  private val PackSlotBounds = Seq(16, 32, 64, 128, 256, 512)

  /** q163: document-BOUNDARY packing — the no-crossing variant of q157
    * (inference batching and finetuning without cross-document attention
    * masking need windows where no doc straddles a boundary). Exact
    * first-fit is a sequential recurrence a distributed plan cannot
    * express; the standard scalable form is LENGTH-BUCKETED packing:
    * docs land in the smallest power-of-two slot that holds them, a
    * window of the 512 budget carries 512/slot equal-slot docs, and the
    * per-doc waste is exactly slot − len. One `row_number` window per
    * (source, slot) partition — MORE parallel than q157's per-source
    * cumsum, nothing global; the assignment is a pure function of the
    * (source, slot, doc_id) order, so the oracle replays it verbatim.
    * Docs over the budget flag `oversize` (own window, zero pad — the
    * training loader truncates; none exist on the fixture, the guard is
    * for real corpora).
    */
  def boundaryPack(
      docs: org.apache.spark.sql.DataFrame,
      budget: Int = 512): org.apache.spark.sql.DataFrame = {
    val len = size(split(col("text"), " ", -1))
    val slot = PackSlotBounds.reverse
      .foldLeft(lit(budget)) { (e, b) => when(len <= b, lit(b)).otherwise(e) }
    val oversize = (len > budget).cast("int")
    val capacity = floor(lit(budget.toDouble) / col("slot")).cast("long")
    val w = Window.partitionBy("source", "slot").orderBy("doc_id")
    docs
      .select(col("source"), col("doc_id"), len.as("n_toks"),
        slot.as("slot"), oversize.as("oversize"))
      .withColumn("rn", row_number().over(w).cast("long") - 1)
      .select(col("source"), col("slot").cast("int").as("bucket_slot"),
        col("doc_id"), col("n_toks").cast("long").as("n_toks"),
        floor(col("rn") / capacity).cast("long").as("window_id"),
        pmod(col("rn"), capacity).cast("long").as("slot_pos"),
        when(col("oversize") === 1, 0L)
          .otherwise(col("slot") - col("n_toks")).cast("long").as("pad_tokens"),
        col("oversize"))
      .orderBy("source", "bucket_slot", "doc_id")
  }

  /** The oracle half of [[PackSlotBounds]]: the identical CASE cascade. */
  private def slotCaseSql(budget: Int): String =
    PackSlotBounds.map(b => s"WHEN ln <= $b THEN $b").mkString(
      "CASE ", " ", s" ELSE $budget END")

  /** q165: [[boundaryPack]]'s continuation — the q159 resume pattern at
    * the (source, slot) grain, where it is even cheaper: equal-slot
    * windows make the resume state a per-(source, slot) DOC COUNT (the
    * next doc's rn), ≤ n_sources × n_slots rows recovered from the
    * manifest's own coordinates (max window_id·capacity + slot_pos + 1).
    * Batch docs continue numbering where the store stopped — the first
    * batch doc of a partially-filled window takes its next slot. Same
    * tail-only retractability argument as the token-stream store (later
    * rns depend on earlier docs' existence, not their content).
    */
  def boundaryPackAppend(
      store: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      budget: Int = 512): org.apache.spark.sql.DataFrame =
    store.unionByName(
        boundarySpans(batch, boundaryResumeCounts(store, budget), budget))
      .orderBy("source", "bucket_slot", "doc_id")

  /** Per-(source, slot) resume counts of a boundary-pack manifest: the
    * next doc's rn, recovered from the manifest's own coordinates.
    * ≤ n_sources × n_slots rows.
    */
  def boundaryResumeCounts(
      store: org.apache.spark.sql.DataFrame,
      budget: Int = 512): org.apache.spark.sql.DataFrame = {
    val capacity = floor(lit(budget.toDouble) / col("bucket_slot")).cast("long")
    store.groupBy("source", "bucket_slot")
      .agg(max(col("window_id") * capacity + col("slot_pos") + 1).as("base_rn"))
  }

  /** The batch's boundary-pack rows resumed from `base`
    * (source, bucket_slot, base_rn) — the appended-only half of
    * [[boundaryPackAppend]]. Buckets absent from the base start at rn 0.
    */
  def boundarySpans(
      batch: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.DataFrame,
      budget: Int = 512): org.apache.spark.sql.DataFrame = {
    val len = size(split(col("text"), " ", -1))
    val slot = PackSlotBounds.reverse
      .foldLeft(lit(budget)) { (e, b) => when(len <= b, lit(b)).otherwise(e) }
    val w = Window.partitionBy("source", "bucket_slot").orderBy("doc_id")
    val cap2 = floor(lit(budget.toDouble) / col("bucket_slot")).cast("long")
    batch
      .select(col("source"), col("doc_id"), len.as("n_toks"),
        slot.cast("int").as("bucket_slot"),
        (len > budget).cast("int").as("oversize"))
      .withColumn("local", row_number().over(w).cast("long") - 1)
      .join(broadcast(base), Seq("source", "bucket_slot"), "left")
      .withColumn("rn", coalesce(col("base_rn"), lit(0L)) + col("local"))
      .select(col("source"), col("bucket_slot"), col("doc_id"),
        col("n_toks").cast("long").as("n_toks"),
        floor(col("rn") / cap2).cast("long").as("window_id"),
        pmod(col("rn"), cap2).cast("long").as("slot_pos"),
        when(col("oversize") === 1, 0L)
          .otherwise(col("bucket_slot") - col("n_toks")).cast("long").as("pad_tokens"),
        col("oversize"))
  }

  /** ABSORB a batch into a persisted boundary-pack store — the
    * [[absorbIntoPackStore]] discipline at the (source, slot) grain:
    * resume counts COLLECTED first (no self-read), new files only.
    */
  def absorbIntoBoundaryPackStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String,
      budget: Int = 512): Unit =
    StoreSwap.write({
      val counts = boundaryResumeCounts(spark.read.parquet(path), budget)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      import spark.implicits._
      boundarySpans(batch, counts.toDF("source", "bucket_slot", "base_rn"), budget)
    }, path, append = true)

  /** RETRACT a batch from a boundary-pack store —
    * [[retractFromPackStore]]'s sibling at the (source, slot) grain;
    * tail-only for the same reason (later rns depend on earlier docs'
    * existence), guarded per bucket: a surviving row at or beyond a
    * retracted rn means the batch was not the bucket tail → raise.
    */
  def retractFromBoundaryPackStore(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: org.apache.spark.sql.DataFrame,
      path: String,
      budget: Int = 512): Unit = StoreSwap.rewrite(spark, path) {
    val store = spark.read.parquet(path)
    val ids = batchIds.select(col("doc_id"))
    val capacity = floor(lit(budget.toDouble) / col("bucket_slot")).cast("long")
    val dropStart = store.join(ids, Seq("doc_id"), "left_semi")
      .groupBy("source", "bucket_slot")
      .agg(min(col("window_id") * capacity + col("slot_pos")).as("drop_rn"))
    store.join(ids, Seq("doc_id"), "left_anti")
      .join(broadcast(dropStart), Seq("source", "bucket_slot"), "left")
      .select(
        when(col("drop_rn").isNotNull &&
            col("window_id") * capacity + col("slot_pos") >= col("drop_rn"),
          raise_error(concat(
            lit("boundary-pack retract: batch is not the bucket tail at "),
            col("source"), lit("/"), col("bucket_slot").cast("string"),
            lit("/doc "), col("doc_id").cast("string"))))
          .otherwise(col("source")).as("source"),
        col("bucket_slot"), col("doc_id"), col("n_toks"),
        col("window_id"), col("slot_pos"), col("pad_tokens"), col("oversize"))
  }

  /** q164's shared core: dedup keepers → per-source pack cumsum →
    * epoch-1 shard assignment in one declarative plan; per kept doc its
    * (pack_id, shard_id) loader address. Factored out so the q172
    * takedown locator probes the SAME chain the q164 registration runs.
    */
  def releaseManifest(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    releaseManifestOver(docs,
      graft.queries.Dedup.dedupManifest(docs)
        .filter(col("keep") === 1).select(col("doc_id")))

  /** [[releaseManifest]] over an ALREADY-DERIVED keeper id set — factored
    * so the q164 registration can consume the PERSISTED dedup manifest
    * (the q149 store: `persistComponents` = the same `dedupManifest` run
    * made durable) instead of re-running the shingle+minhash+CC+ranking
    * chain per release. That is the production dependency direction — a
    * release pack/shard assignment reads the dedup tier's stored output,
    * it does not re-dedup the corpus — and the values are identical by
    * the store contract, so the q164 oracle (which replays the full
    * keeper CTE) still certifies the whole chain. The from-scratch
    * derivation stays measured by q97 (and by this method's
    * [[releaseManifest]] wrapper, which q172's store build rides).
    */
  def releaseManifestOver(
      docs: org.apache.spark.sql.DataFrame,
      keep: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // snapped once (incrementalRelease's documented pub0 lever): the pack
    // table feeds assignShards' bounded offset collect, the shard
    // assignment branch AND the final address join — unsnapped, each of
    // those actions re-ran the dedup ranking + keeper semi-join + pack
    // cumsum chain (measured 3 executions of the same stage at sf0.1).
    // text is dropped BEFORE the checkpoint: nothing downstream reads it,
    // and materializing corpus text in the snap was pure I/O waste.
    val pd = org.apache.spark.sql.graft.shims.snap(graft.ops.ShardExport
      .packedDocs(docs.join(keep, Seq("doc_id"), "left_semi"), 512)
      .drop("text"), "release.packs")
    val packs = pd.groupBy("source", "pack_id")
      .agg(sum("n_toks").as("pack_toks"))
    val asg = graft.ops.ShardExport
      .assignShards(packs, epoch = 1, shardTokens = 2048)
      .select(col("source"), col("pack_id"), col("shard_id"))
    pd.join(asg, Seq("source", "pack_id"))
      .select(col("source"), col("doc_id"),
        col("n_toks").cast("long").as("n_toks"),
        col("pack_id"), col("shard_id"))
      .orderBy("source", "pack_id", "doc_id")
  }

  /** q169's shared core (see the registration comment): the day-2
    * incremental release — batch through the q112 incremental manifest,
    * new keepers appended as tail packs/shards under the q120 offset
    * rule, demoted keepers flagged 'revoked' at their immutable
    * published address. Factored out so q171's retraction and the q169
    * registration run the SAME absorb (twins cannot drift).
    *
    * The multi-consumer stages are snapped once via `shims.snap` (the
    * ConnectedComponents lever): the manifest merge feeds both the
    * addition anti-join and the final keep-flag join, the published pack
    * table feeds its shard
    * assignment, the per-source offsets AND the final rows, and the
    * shard assignment feeds the 1-row offset head action and the final
    * join — without the snap, the offset action plus the final plan
    * re-executed the whole dedup+pack+shard chain (measured 2× cost:
    * 10.5 s → ~6 s at sf0.1). The snap installs the MEASURED size so
    * the downstream broadcast-vs-shuffle choices stay honest.
    */
  def incrementalRelease(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      val thr = 0.7
      val docs = Tables(s, dir, "documents")
      val store = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val path = graft.queries.DedupStore.componentIndexFor(store, dir, thr)
      val m0 = s.read.parquet(graft.queries.DedupStore.manifestSubdir(path, thr))
      val keepers0 = m0.filter(col("keep") === 1).select(col("doc_id"))
      val m1 = org.apache.spark.sql.graft.shims.snap(
        graft.queries.DedupStore.incrementalManifest(s, batch, docs, path, thr),
        "release.manifest")
      val adds = m1.filter(col("keep") === 1).select(col("doc_id"))
        .join(keepers0, Seq("doc_id"), "left_anti")
      // ONE fused pack/shard pass over published ∪ added keepers (was: two
      // packedDocs chains + two assignShards with separate bounded collects
      // + a shard-base head action — 8 sequential driver actions where the
      // published and added arms differ only by their keeper set). `grp`
      // separates the arms inside shared windows: the per-(source, grp)
      // cumsum reproduces each arm's q58 pack offsets exactly, the
      // per-source max over the pub arm IS the old per-source pack_base
      // broadcast, and the per-(grp, bucket) shard windows reproduce both
      // assignShards runs under one 2×256-row offsets collect. The text
      // column never enters the checkpoint (the old pub0/add0 snaps
      // materialized full corpus text nothing downstream read).
      val ids = keepers0.select(col("doc_id"), lit("pub").as("grp"))
        .unionByName(adds.select(col("doc_id"), lit("add").as("grp")))
      val wOff = Window.partitionBy("source", "grp").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wSrc = Window.partitionBy("source")
      val pd = org.apache.spark.sql.graft.shims.snap(docs.join(ids, Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("grp"),
          size(split(col("text"), " ", -1)).as("n_toks"))
        .withColumn("off", coalesce(sum(col("n_toks")).over(wOff), lit(0)))
        .withColumn("p0", floor(col("off") / 512).cast("long"))
        .withColumn("pack_base",
          max(when(col("grp") === "pub", col("p0"))).over(wSrc) + lit(1L))
        .select(col("source"), col("doc_id"), col("grp"),
          col("n_toks").cast("long").as("n_toks"),
          when(col("grp") === "add",
            col("p0") + coalesce(col("pack_base"), lit(0L)))
            .otherwise(col("p0")).as("pack_id")), "release.incPacks")
      val keyed = pd.groupBy("grp", "source", "pack_id")
        .agg(sum("n_toks").as("pack_toks"))
        .withColumn("skey",
          md5(concat_ws(":", col("source"), col("pack_id"), lit(1))))
        .withColumn("bucket",
          conv(substring(col("skey"), 1, 2), 16, 10).cast("int"))
      // pass 1 of the ShardExport two-pass cumsum, both arms in ONE bounded
      // collect (≤ 2×256 rows): exclusive per-bucket offsets within each grp
      val totals = keyed.groupBy("grp", "bucket").agg(sum("pack_toks").as("t"))
        .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
      val offsets: Map[(String, Int), Long] =
        totals.groupBy(_._1._1).iterator.flatMap { case (_, rows) =>
          val sorted = rows.sortBy(_._1._2)
          var acc = 0L
          sorted.iterator.map { case (gb, t) => val o = (gb, acc); acc += t; o }
        }.toMap
      // flat map LITERALS, not a nested when-cascade: 2×256 arms of
      // `when().otherwise()` recurse once per arm in the Column-node
      // converter and overflow the driver stack at sf0.1's bucket count
      def grpMap(g: String) = typedlit(offsets.collect {
        case ((`g`, b), off) => b -> off
      })
      val bucketOff = when(col("grp") === "pub",
        element_at(grpMap("pub"), col("bucket")))
        .otherwise(element_at(grpMap("add"), col("bucket")))
      // pass 2: within-(grp, bucket) exclusive cumsum, parallel across
      // buckets — bit-identical per grp to the separate assignShards runs
      val wIn = Window.partitionBy("grp", "bucket")
        .orderBy("skey", "source", "pack_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val asg = org.apache.spark.sql.graft.shims.snap(keyed
        .withColumn("goff",
          bucketOff + coalesce(sum(col("pack_toks")).over(wIn), lit(0L)))
        .withColumn("shard0", floor(col("goff") / 2048).cast("long"))
        .select(col("grp"), col("source"), col("pack_id"), col("shard0")),
        "release.shards")
      // the q120 offset rule: added shards continue after the published
      // max — a 1-row broadcast aggregate over the snapped assignment
      // instead of the old blocking .head action
      val sbase = broadcast(asg.filter(col("grp") === "pub")
        .agg((max(col("shard0")) + lit(1L)).as("sbase")))
      val withShard = asg.crossJoin(sbase)
        .select(col("grp"), col("source"), col("pack_id"),
          when(col("grp") === "add", col("shard0") + col("sbase"))
            .otherwise(col("shard0")).as("shard_id"))
      pd.join(withShard, Seq("grp", "source", "pack_id"))
        .join(m1.select(col("doc_id"), col("keep")), Seq("doc_id"), "left")
        .select(col("source"), col("doc_id"), col("n_toks"),
          col("pack_id"), col("shard_id"),
          when(col("grp") === "add", lit("added"))
            .when(col("keep") === 1, lit("published"))
            .otherwise(lit("revoked")).as("status"))
        .orderBy("source", "pack_id", "doc_id")
  }

  /** q169's oracle CTE chain, ending in `relrows` = the full incremental-
    * release manifest (the keeper chain instantiated twice + both
    * pack/shard arms + statuses). Shared VERBATIM by q176's takedown
    * wrapper so the two oracles cannot drift (the KeeperCteSql house
    * pattern).
    */
  private[graft] val IncrementalReleaseOracleSql: String =
    s"""WITH RECURSIVE
      |${graft.queries.Dedup.keeperCte("_a", p => s"${p}doc_id % 5 <> 0")},
      |${graft.queries.Dedup.keeperCte("_b", _ => "TRUE")},
      |adds AS (SELECT doc_id FROM keepers_b
      |         WHERE doc_id NOT IN (SELECT doc_id FROM keepers_a)),
      |t0 AS (
      |  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_toks
      |  FROM documents d JOIN keepers_a USING (doc_id)),
      |p0 AS (
      |  SELECT source, doc_id, n_toks,
      |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM t0),
      |d0 AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id, n_toks FROM p0),
      |pk0 AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
      |        FROM d0 GROUP BY source, pack_id),
      |k0 AS (SELECT *,
      |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
      |       FROM pk0),
      |c0 AS (SELECT source, pack_id,
      |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
      |      FROM k0),
      |a0 AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_id FROM c0),
      |mx AS (SELECT MAX(shard_id) + 1 AS sbase FROM a0),
      |np AS (SELECT source, MAX(pack_id) + 1 AS pack_base FROM d0 GROUP BY source),
      |t1 AS (
      |  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_toks
      |  FROM documents d JOIN adds USING (doc_id)),
      |p1 AS (
      |  SELECT source, doc_id, n_toks,
      |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM t1),
      |d1 AS (SELECT p1.source,
      |         CAST(off // 512 AS BIGINT) + COALESCE(np.pack_base, 0) AS pack_id,
      |         p1.doc_id, p1.n_toks
      |       FROM p1 LEFT JOIN np ON np.source = p1.source),
      |pk1 AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
      |        FROM d1 GROUP BY source, pack_id),
      |k1 AS (SELECT *,
      |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
      |       FROM pk1),
      |c1 AS (SELECT source, pack_id,
      |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
      |      FROM k1),
      |a1 AS (SELECT source, pack_id,
      |         CAST(goff // 2048 AS BIGINT) + (SELECT sbase FROM mx) AS shard_id
      |       FROM c1),
      |relrows AS (
      |  SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
      |    pack_id, shard_id, status FROM (
      |    SELECT d0.source, d0.doc_id, d0.n_toks, d0.pack_id, a0.shard_id,
      |      CASE WHEN d0.doc_id IN (SELECT doc_id FROM keepers_b)
      |           THEN 'published' ELSE 'revoked' END AS status
      |    FROM d0 JOIN a0 ON a0.source = d0.source AND a0.pack_id = d0.pack_id
      |    UNION ALL
      |    SELECT d1.source, d1.doc_id, d1.n_toks, d1.pack_id, a1.shard_id,
      |      'added' AS status
      |    FROM d1 JOIN a1 ON a1.source = d1.source AND a1.pack_id = d1.pack_id))""".stripMargin

  /** [[incrementalReleaseFor]]'s sibling for q164's epoch-1 release
    * manifest — q172's release arm probes the stored manifest (the
    * production shape: a locator reads stores, it does not re-release),
    * while q164's own registration keeps measuring the derivation.
    */
  private[queries] def releaseManifestFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(WarmStores.artifact(s, dir, "documents", "relman")()(
      WarmStores.zstd(releaseManifest(Tables(s, dir, "documents")))))

  /** Warm-reusable PERSISTED incremental-release manifest — the q158
    * probe-form precedent applied to the release family: q169's
    * derivation runs once per corpus dir and lands as a never-mutated
    * artifact, so the surgery/verify registrations built on top of it
    * (q171 retract, q176 takedown, q177 verify) measure THEIR operation —
    * manifest surgery over a stored manifest, which is exactly the
    * production shape: a release manifest is a persisted store, not
    * something re-derived per takedown — instead of re-paying the
    * derivation q169 itself keeps measuring. Values are identical either
    * way (the artifact holds [[incrementalRelease]]'s rows verbatim), so
    * the oracles are untouched. A content-keyed warm store: any dir
    * warm-serves safely and a rewritten dir re-keys — the round-15 sf1
    * rehearsal measured this chain rebuilding per call (q171/q176/q177 at
    * 46-82x on 10x data) under the old testdata-only policy.
    */
  private def incrementalReleaseFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(WarmStores.artifact(s, dir, "documents", "increl")()(
      WarmStores.zstd(incrementalRelease(s, dir))))

  /** q171: un-absorb the day-2 batch from an incremental release. The
    * absorb never rewrote a published file (additions are NEW tail
    * packs/shards, demotions are in-place flags), so retraction is pure
    * manifest surgery: drop 'added' rows, restore 'revoked' →
    * 'published'. Guard (q161/q167 house pattern): an 'added' row whose
    * doc is outside the retracted batch means the manifest was absorbed
    * from a DIFFERENT batch — the retract raises loudly instead of
    * removing somebody else's tail. The violation count is a 1-row
    * aggregate broadcast onto the surviving rows so the guard cannot be
    * filtered away before it evaluates.
    */
  def retractRelease(
      manifest: org.apache.spark.sql.DataFrame,
      batchIds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bad = manifest.filter(col("status") === "added")
      .join(batchIds.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
    manifest.filter(col("status") =!= "added")
      .crossJoin(broadcast(bad))
      .select(
        when(col("n_bad") > 0,
          raise_error(concat(
            lit("release retract: manifest carries additions outside the "),
            lit("retracted batch ("), col("n_bad").cast("string"),
            lit(" docs) — wrong batch"))))
          .otherwise(col("source")).as("source"),
        col("doc_id"), col("n_toks"), col("pack_id"), col("shard_id"),
        when(col("status") === "revoked", lit("published"))
          .otherwise(col("status")).as("status"))
      .orderBy("source", "pack_id", "doc_id")
  }

  /** q176: EXECUTE a takedown against a release manifest — the write half
    * of q172's locator, and the third manifest-surgery direction after
    * q171's retract. Under the immutable-publication contract removal is
    * a FLAG at the published address (exactly the demotion mechanism):
    * every LIVE row ('published' or 'added') holding a takedown doc flips
    * to 'taken_down'; everything else passes through verbatim. A row
    * already 'revoked' stays revoked — the dedup demotion stands, there
    * is nothing live to remove — which makes the op IDEMPOTENT and
    * composable with retraction in either order. Dedup state is
    * deliberately untouched: the taken-down doc remains its cluster's
    * keeper, so its near-duplicates — the same content — can never be
    * promoted into a later release by the incremental absorb.
    * The takedown set is tiny by nature and probes by one broadcast
    * join; the manifest itself is map-side work, no new shuffle.
    */
  def takedownRelease(
      manifest: org.apache.spark.sql.DataFrame,
      takedownIds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // same .distinct() rationale as [[takedownVerify]]: a duplicated feed
    // id in this left join would emit the manifest row once per copy
    manifest.join(
        broadcast(takedownIds.select(col("doc_id")).distinct()
          .select(col("doc_id"), lit(1).as("__td"))),
        Seq("doc_id"), "left")
      .select(col("source"), col("doc_id"), col("n_toks"),
        col("pack_id"), col("shard_id"),
        when(col("__td") === 1 && col("status").isin("published", "added"),
          lit("taken_down"))
          .otherwise(col("status")).as("status"))
      .orderBy("source", "pack_id", "doc_id")

  /** q177: takedown COMPLIANCE VERIFICATION — the read-back half that
    * closes the takedown lifecycle (locate q172 → execute q176 → verify
    * here). Takes a manifest that is CLAIMED post-takedown — this
    * function never applies anything, it audits somebody else's write —
    * and reports, per source: rows flipped to 'taken_down', takedown
    * docs shielded by a standing dedup demotion ('revoked' rows — there
    * was nothing live to remove, [[takedownRelease]]'s idempotence
    * contract), and the number every compliance rotation actually
    * watches, `n_live_leaks`: takedown docs still 'published'/'added'.
    * Zero on a correctly executed manifest — the oracle replays exactly
    * that clean state (the q126/q166 clean-corpus convention) and the
    * planted-leak path (a live row the execution missed) is exercised in
    * CurationSpec where a manifest can be safely doctored.
    * Scale: the takedown set is tiny by nature (one broadcast probe);
    * everything else is one map-side pass over the manifest + the
    * per-source aggregate — no new shuffle beyond the groupBy.
    */
  def takedownVerify(
      post: org.apache.spark.sql.DataFrame,
      takedownIds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // .distinct() because the takedown FEED may carry duplicate ids — a
    // replayed raw request stream, say; TakedownStream explicitly tells
    // upstreams they need no dedup — and a left join on duplicated ids
    // would duplicate manifest rows, inflating every per-source count
    // including n_live_leaks. (takedownRelease/takedownIngest are safe
    // via left/left_semi semantics against unique manifest rows.)
    post.join(
        broadcast(takedownIds.select(col("doc_id")).distinct()
          .select(col("doc_id"), lit(1).as("__td"))),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("status") === "taken_down", 1).otherwise(0))
          .cast("long").as("n_taken_down"),
        sum(when(col("__td") === 1 && col("status") === "revoked", 1)
          .otherwise(0)).cast("long").as("n_shielded"),
        sum(when(col("__td") === 1 &&
            col("status").isin("published", "added"), 1)
          .otherwise(0)).cast("long").as("n_live_leaks"),
        sum(when(col("status") === "published", 1).otherwise(0))
          .cast("long").as("n_published"),
        sum(when(col("status") === "added", 1).otherwise(0))
          .cast("long").as("n_added"))
      .orderBy("source")

  /** q166: the per-source corpus integrity audit — see the registration
    * comment. Duplicate ids are detected at the ID grain (a window over
    * doc_id) so a duplicate SPANNING sources is charged to every source
    * holding a copy; all other checks are row-local.
    */
  def integrityAudit(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("doc_id")
    docs
      .withColumn("id_n", count(lit(1)).over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        min("doc_id").as("min_id"),
        max("doc_id").as("max_id"),
        sum(when(col("id_n") > 1, 1).otherwise(0)).cast("long").as("n_dup_id"),
        sum(when(col("text").isNull, 0)
          .when(col("n_chars") =!= length(col("text")), 1)
          .otherwise(0)).cast("long").as("n_chars_bad"),
        sum(when(col("text").isNull || length(trim(col("text"))) === 0, 1)
          .otherwise(0)).cast("long").as("n_empty"))
      .orderBy("source")
  }

  /** ABSORB a batch into a persisted pack-manifest store: q159's
    * continuation made durable. The batch's spans land as NEW parquet
    * files only (published rows immutable — the training loader's
    * contract); the resume offsets are COLLECTED first (≤ n_sources
    * rows), so the append plan never reads the directory it writes to —
    * the parquet self-read hazard severed by construction, the
    * [[graft.streaming.PackIngestStream]] discipline shared by the batch path.
    */
  def absorbIntoPackStore(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      path: String,
      packTokens: Int = 512): Unit =
    StoreSwap.write({
      val offsets = packResumeOffsets(spark.read.parquet(path), packTokens)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      import spark.implicits._
      packSpans(batch, offsets.toDF("source", "base_off"), packTokens)
    }, path, append = true)

  /** RETRACT a batch from a pack-manifest store. The stream is
    * append-only, so ONLY the tail is retractable: a batch whose spans
    * are the suffix of every source's token stream drops out exactly
    * (the remaining rows ARE the pre-absorb manifest — offsets of
    * earlier docs never depended on later ones). The guard makes the
    * contract loud: if any surviving span of a source sits at or beyond
    * a retracted span's start offset, the batch was NOT the tail and the
    * rewrite raises (`raise_error`, the q107-guard house pattern)
    * instead of silently writing a manifest with a hole in its stream.
    * Write-aside then swap, like every mutated store here.
    */
  def retractFromPackStore(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: org.apache.spark.sql.DataFrame,
      path: String,
      packTokens: Int = 512): Unit =
    StoreSwap.rewrite(spark, path)(retractedPackRows(spark.read.parquet(path), batchIds, packTokens))

  /** The rows [[retractFromPackStore]] writes, exposed pre-write (the
    * [[retractedRefcountedRows]] precedent): the restored manifest as a
    * pure view over the live store — anti join against the batch ids,
    * tail-only guard included — so a PROBE-form registration measures the
    * retraction without mutating anything.
    */
  private[graft] def retractedPackRows(
      store: org.apache.spark.sql.DataFrame,
      batchIds: org.apache.spark.sql.DataFrame,
      packTokens: Int = 512): org.apache.spark.sql.DataFrame = {
    val ids = batchIds.select(col("doc_id"))
    val dropStart = store.join(ids, Seq("doc_id"), "left_semi")
      .groupBy("source")
      .agg(min(col("pack_id") * packTokens + col("tok_start")).as("drop_start"))
    store.join(ids, Seq("doc_id"), "left_anti")
      .join(broadcast(dropStart), Seq("source"), "left")
      .select(
        when(col("drop_start").isNotNull &&
            col("pack_id") * packTokens + col("tok_end") > col("drop_start"),
          raise_error(concat(lit("pack retract: batch is not the stream tail at "),
            col("source"), lit("/doc "), col("doc_id").cast("string"))))
          .otherwise(col("source")).as("source"),
        col("pack_id"), col("doc_id"), col("tok_start"), col("tok_end"),
        col("crosses_boundary"))
  }

  val all: Map[String, Q] = Map(
    // Sequence PACKING: concat-then-chunk — documents are laid out in
    // deterministic order per source and split into fixed token-budget
    // context windows (pack_id = exclusive-cumulative-tokens div budget),
    // exactly the packing pretraining loaders use. One window function +
    // one aggregate; the cumsum partitions by source so a 100 TB corpus
    // packs in parallel per stratum with no global coordination.
    // PACK MANIFEST (the q58 rollup's per-doc form): the artifact a
    // training LOADER actually consumes — for every doc its span inside
    // its 512-token context window (tok_start/tok_end in pack-local
    // coordinates) plus the crosses-boundary flag, which is exactly the
    // information cross-document attention masking and loss masking
    // need (a doc overshooting its pack must mask differently from one
    // that ends inside it; q58's concat-then-chunk assigns packs by doc
    // START, so the last doc of a pack may overshoot — the <1-doc
    // overshoot documented there). Same scale shape as q58: one
    // per-source-parallel window, no extra shuffle — the manifest is
    // the SAME cumsum q58 aggregates, kept at row grain; in production
    // it is written next to the q105 shards. Oracle replays the window
    // and the mod arithmetic verbatim.
    "q157_pack_manifest" -> Q(
      "Pack manifest for the training loader: per-doc token spans inside " +
        "each 512-token context window, with overshoot flags",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id,
        |  CAST(off % 512 AS BIGINT) AS tok_start,
        |  CAST(off % 512 + tok AS BIGINT) AS tok_end,
        |  CAST(CASE WHEN off % 512 + tok > 512 THEN 1 ELSE 0 END AS INT)
        |    AS crosses_boundary
        |FROM c ORDER BY source, pack_id, doc_id""".stripMargin) { (s, dir) =>
      packManifest(Tables(s, dir, "documents"))
    },

    // PACK CONTINUATION ([[packManifestAppend]]): the daily loader-manifest
    // shape — day-0's manifest (persisted parquet, probe-only: written once
    // per process then only scanned) extended by the day-1 batch CONTINUING
    // the token stream, first batch doc filling day-0's last partial
    // window. Store rows pass through byte-identical; the batch costs one
    // per-source window + a ≤20-row broadcast of resume offsets — O(batch),
    // the store never re-packed. Batch convention here is %7 (NOT the usual
    // %5): source = src(doc_id % 20), so a %5 split puts whole sources on
    // one side and the mid-window resume would never fire on the fixture;
    // 7 is coprime with 20, so EVERY source has both days and the oracle
    // genuinely certifies the continuation. Incremental ≡ rebuild: one
    // window over the (day, doc_id)-ordered corpus reproduces every span
    // the two-step fold produced.
    "q159_pack_append" -> Q(
      "Pack-manifest continuation: day-1 docs resume the day-0 token " +
        "stream from its persisted manifest, filling the last partial window",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS tok,
        |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS day
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY day, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id,
        |  CAST(off % 512 AS BIGINT) AS tok_start,
        |  CAST(off % 512 + tok AS BIGINT) AS tok_end,
        |  CAST(CASE WHEN off % 512 + tok > 512 THEN 1 ELSE 0 END AS INT)
        |    AS crosses_boundary
        |FROM c ORDER BY source, pack_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val storePath = WarmStores.key(dir, "packstore", "p512", WarmStores.Pid)
      Curation.synchronized {
        if (!graft.ops.StoreSwap.committed(s, storePath)) {
          StoreSwap.write(packManifest(docs.filter(col("doc_id") % 7 =!= 0)), storePath)
        }
      }
      packManifestAppend(
        s.read.parquet(storePath), docs.filter(col("doc_id") % 7 === 0))
    },

    // PACK RETRACTION ([[retractFromPackStore]]): the truncated-ingest
    // case for the append-only token stream — the %7 batch sits absorbed
    // as the stream's tail in a warm never-mutated store, is flagged, and
    // un-absorbs as a PROBE view; the restored manifest must equal the
    // never-absorbed fold, which is exactly what the oracle replays
    // (q157's window over the %7≠0 corpus). Tail-only retractability is
    // the operator's honest contract (earlier spans never depended on
    // later ones; a non-tail retract raises — LifecycleSpec pins that
    // guard on the store-REWRITING path, which shares retractedPackRows
    // with this probe).
    "q161_pack_retract" -> Q(
      "Pack-store retraction: the absorbed tail batch un-absorbed; the " +
        "restored manifest equals the never-absorbed fold",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 7 <> 0),
        |c AS (
        |  SELECT source, doc_id, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id,
        |  CAST(off % 512 AS BIGINT) AS tok_start,
        |  CAST(off % 512 + tok AS BIGINT) AS tok_end,
        |  CAST(CASE WHEN off % 512 + tok > 512 THEN 1 ELSE 0 END AS INT)
        |    AS crosses_boundary
        |FROM c ORDER BY source, pack_id, doc_id""".stripMargin) { (s, dir) =>
      // PROBE form (the q158 precedent): the batch sits absorbed in a
      // warm, never-mutated store; each call measures the retraction
      // itself — anti join + tail-only guard over the absorbed store —
      // not a from-scratch store rebuild. Output identical to the
      // store-rewriting retractFromPackStore (LifecycleSpec-proved).
      val docs = Tables(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 7 === 0)
      // the store at the ABSORBED state, written in ONE job: base
      // manifest plus the batch's spans resumed at the base offsets is
      // row-identical to packManifest(base) followed by
      // absorbIntoPackStore(batch) (the q159 continuation contract)
      val path = WarmStores.artifact(s, dir, "documents", "packabs", "p512")() { p =>
        val m0 = packManifest(docs.filter(col("doc_id") % 7 =!= 0), 512)
        WarmStores.zstd(m0.unionByName(packSpans(batch, packResumeOffsets(m0, 512), 512)))(p)
      }
      retractedPackRows(s.read.parquet(path), batch.select(col("doc_id")))
        .orderBy("source", "pack_id", "doc_id")
    },

    // BOUNDARY packing ([[boundaryPack]]): q157's no-crossing sibling —
    // length-bucketed equal-slot windows, one row_number per (source,
    // slot) partition, per-doc waste exact. The slot cascade and the
    // oracle's CASE arms come from the SAME boundary list, so the
    // engines cannot drift on bucketing.
    "q163_boundary_pack" -> Q(
      "Document-boundary packing: length-bucketed equal-slot 512-token " +
        "windows (no doc crosses a boundary), exact per-doc padding",
      s"""WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ln
        |  FROM documents),
        |s AS (SELECT source, doc_id, ln, ${slotCaseSql(512)} AS slot,
        |        CASE WHEN ln > 512 THEN 1 ELSE 0 END AS oversize
        |      FROM t),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY source, slot ORDER BY doc_id) - 1 AS rn
        |      FROM s)
        |SELECT source, CAST(slot AS INT) AS bucket_slot, doc_id,
        |  CAST(ln AS BIGINT) AS n_toks,
        |  CAST(rn // (512 // slot) AS BIGINT) AS window_id,
        |  CAST(rn % (512 // slot) AS BIGINT) AS slot_pos,
        |  CAST(CASE WHEN oversize = 1 THEN 0 ELSE slot - ln END AS BIGINT)
        |    AS pad_tokens,
        |  CAST(oversize AS INT) AS oversize
        |FROM r ORDER BY source, bucket_slot, doc_id""".stripMargin) { (s, dir) =>
      boundaryPack(Tables(s, dir, "documents"))
    },

    // BOUNDARY-pack continuation ([[boundaryPackAppend]]): the q159
    // daily shape at the (source, slot) grain — day-1 docs continue the
    // per-bucket numbering where the persisted day-0 manifest stopped,
    // the first batch doc of a partially-filled window taking its next
    // slot. Resume state = one doc count per (source, slot), broadcast;
    // the store is scanned once, never re-packed. %7 batch convention
    // (the q159 argument: %5 is source-aligned on this fixture). Oracle
    // certifies incremental ≡ rebuild via ROW_NUMBER over the
    // (day, doc_id) order within each bucket.
    "q165_boundary_pack_append" -> Q(
      "Boundary-pack continuation: day-1 docs resume each (source, slot) " +
        "bucket's numbering from the persisted manifest",
      s"""WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ln,
        |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS day
        |  FROM documents),
        |s AS (SELECT source, doc_id, ln, day, ${slotCaseSql(512)} AS slot,
        |        CASE WHEN ln > 512 THEN 1 ELSE 0 END AS oversize
        |      FROM t),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY source, slot ORDER BY day, doc_id) - 1 AS rn
        |      FROM s)
        |SELECT source, CAST(slot AS INT) AS bucket_slot, doc_id,
        |  CAST(ln AS BIGINT) AS n_toks,
        |  CAST(rn // (512 // slot) AS BIGINT) AS window_id,
        |  CAST(rn % (512 // slot) AS BIGINT) AS slot_pos,
        |  CAST(CASE WHEN oversize = 1 THEN 0 ELSE slot - ln END AS BIGINT)
        |    AS pad_tokens,
        |  CAST(oversize AS INT) AS oversize
        |FROM r ORDER BY source, bucket_slot, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val storePath = WarmStores.key(dir, "bpackstore", "b512", WarmStores.Pid)
      Curation.synchronized {
        if (!graft.ops.StoreSwap.committed(s, storePath)) {
          StoreSwap.write(boundaryPack(docs.filter(col("doc_id") % 7 =!= 0)), storePath)
        }
      }
      boundaryPackAppend(
        s.read.parquet(storePath), docs.filter(col("doc_id") % 7 === 0))
    },

    // BOUNDARY-pack RETRACTION ([[retractFromBoundaryPackStore]]): q161's
    // contract at the (source, slot) grain — the %7 batch absorbed as
    // each bucket's tail, flagged, un-absorbed; the restored store must
    // equal the never-absorbed manifest (q163's replay over the %7≠0
    // corpus). Counted lifecycle → base rebuilt fresh per call; the
    // non-tail guard is LifecycleSpec-style spec territory (CurationSpec).
    "q167_boundary_pack_retract" -> Q(
      "Boundary-pack retraction: the absorbed tail batch un-absorbed per " +
        "bucket; restored manifest equals the never-absorbed fold",
      s"""WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ln
        |  FROM documents WHERE doc_id % 7 <> 0),
        |s AS (SELECT source, doc_id, ln, ${slotCaseSql(512)} AS slot,
        |        CASE WHEN ln > 512 THEN 1 ELSE 0 END AS oversize
        |      FROM t),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY source, slot ORDER BY doc_id) - 1 AS rn
        |      FROM s)
        |SELECT source, CAST(slot AS INT) AS bucket_slot, doc_id,
        |  CAST(ln AS BIGINT) AS n_toks,
        |  CAST(rn // (512 // slot) AS BIGINT) AS window_id,
        |  CAST(rn % (512 // slot) AS BIGINT) AS slot_pos,
        |  CAST(CASE WHEN oversize = 1 THEN 0 ELSE slot - ln END AS BIGINT)
        |    AS pad_tokens,
        |  CAST(oversize AS INT) AS oversize
        |FROM r ORDER BY source, bucket_slot, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 7 === 0)
      val path = WarmStores.key(dir, "bpackretract", "b512", WarmStores.Pid)
      Curation.synchronized {
        StoreSwap.write(boundaryPack(docs.filter(col("doc_id") % 7 =!= 0)), path)
        absorbIntoBoundaryPackStore(s, batch, path)
        retractFromBoundaryPackStore(s, batch.select(col("doc_id")), path)
      }
      s.read.parquet(path).orderBy("source", "bucket_slot", "doc_id")
    },

    // INCREMENTAL release (q164's day-2): the published release is
    // immutable — today's batch flows through the q112 incremental
    // manifest (batch-touching clusters re-ranked off the warm %5≠0
    // store, O(batch)); NEW keepers append as new packs/shards under
    // q120's offset rule (per-source pack_base, global shard base);
    // keepers DEMOTED by the batch (a batch doc beat them, or their
    // clusters merged) stay in their published address flagged
    // 'revoked' — the loader masks them, files never rewrite. Additions
    // are provably ⊆ batch (cluster merges can only promote one of the
    // previous keepers — ranking over a union is the max of the maxima;
    // CurationSpec pins it). Oracle: the keeper chain instantiated TWICE
    // (store corpus and full corpus — Dedup.keeperCte tags) + both
    // pack/shard arms, statuses from the keeper-set diff.
    "q169_incremental_release" -> Q(
      "Incremental release: published rows immutable, new keepers appended " +
        "under the q120 offset rule, demoted keepers flagged revoked",
      s"""WITH RECURSIVE
        |${graft.queries.Dedup.keeperCte("_a", p => s"${p}doc_id % 5 <> 0")},
        |${graft.queries.Dedup.keeperCte("_b", _ => "TRUE")},
        |adds AS (SELECT doc_id FROM keepers_b
        |         WHERE doc_id NOT IN (SELECT doc_id FROM keepers_a)),
        |t0 AS (
        |  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_toks
        |  FROM documents d JOIN keepers_a USING (doc_id)),
        |p0 AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t0),
        |d0 AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id, n_toks FROM p0),
        |pk0 AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
        |        FROM d0 GROUP BY source, pack_id),
        |k0 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk0),
        |c0 AS (SELECT source, pack_id,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k0),
        |a0 AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_id FROM c0),
        |mx AS (SELECT MAX(shard_id) + 1 AS sbase FROM a0),
        |np AS (SELECT source, MAX(pack_id) + 1 AS pack_base FROM d0 GROUP BY source),
        |t1 AS (
        |  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_toks
        |  FROM documents d JOIN adds USING (doc_id)),
        |p1 AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t1),
        |d1 AS (SELECT p1.source,
        |         CAST(off // 512 AS BIGINT) + COALESCE(np.pack_base, 0) AS pack_id,
        |         p1.doc_id, p1.n_toks
        |       FROM p1 LEFT JOIN np ON np.source = p1.source),
        |pk1 AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
        |        FROM d1 GROUP BY source, pack_id),
        |k1 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk1),
        |c1 AS (SELECT source, pack_id,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k1),
        |a1 AS (SELECT source, pack_id,
        |         CAST(goff // 2048 AS BIGINT) + (SELECT sbase FROM mx) AS shard_id
        |       FROM c1)
        |SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |  pack_id, shard_id, status FROM (
        |  SELECT d0.source, d0.doc_id, d0.n_toks, d0.pack_id, a0.shard_id,
        |    CASE WHEN d0.doc_id IN (SELECT doc_id FROM keepers_b)
        |         THEN 'published' ELSE 'revoked' END AS status
        |  FROM d0 JOIN a0 ON a0.source = d0.source AND a0.pack_id = d0.pack_id
        |  UNION ALL
        |  SELECT d1.source, d1.doc_id, d1.n_toks, d1.pack_id, a1.shard_id,
        |    'added' AS status
        |  FROM d1 JOIN a1 ON a1.source = d1.source AND a1.pack_id = d1.pack_id)
        |ORDER BY source, pack_id, doc_id""".stripMargin) { (s, dir) =>
      incrementalRelease(s, dir)
    },

    // RELEASE retraction ([[retractRelease]]): the absorb∘retract mirror
    // of q169 under the immutable-publication contract. Because the
    // day-2 absorb never rewrote a published file — additions appended
    // as NEW tail packs/shards (q120's offset rule), demotions flagged
    // in place — the un-absorb is pure manifest surgery: drop the
    // 'added' tail rows, restore 'revoked' to 'published'; no corpus
    // rescan, no pack re-cumsum, O(manifest) map-side work. The guard
    // makes the contract loud (q161/q167 house pattern): an 'added' row
    // whose doc is NOT in the retracted batch means this manifest was
    // absorbed from a DIFFERENT batch, and the retract raises instead of
    // silently publishing a release with somebody else's tail removed.
    // Oracle: the restored manifest must equal the never-absorbed day-1
    // release — the q164 template over the %5≠0 store corpus, every row
    // 'published' (incremental-absorb∘retract ≡ rebuild-without-batch).
    "q171_release_retract" -> Q(
      "Release retraction: the day-2 batch un-published — added tail " +
        "shards dropped, demoted keepers restored at their address",
      s"""WITH RECURSIVE
        |${graft.queries.Dedup.keeperCte("_a", p => s"${p}doc_id % 5 <> 0")},
        |t0 AS (
        |  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_toks
        |  FROM documents d JOIN keepers_a USING (doc_id)),
        |p0 AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t0),
        |d0 AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id, n_toks FROM p0),
        |pk0 AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
        |        FROM d0 GROUP BY source, pack_id),
        |k0 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk0),
        |c0 AS (SELECT source, pack_id,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k0),
        |a0 AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_id FROM c0)
        |SELECT d0.source, d0.doc_id, CAST(d0.n_toks AS BIGINT) AS n_toks,
        |  d0.pack_id, a0.shard_id, 'published' AS status
        |FROM d0 JOIN a0 ON a0.source = d0.source AND a0.pack_id = d0.pack_id
        |ORDER BY d0.source, d0.pack_id, d0.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      retractRelease(incrementalReleaseFor(s, dir),
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    },

    // REVIEW sample: the human-QA artifact every release ships — per
    // source, a FIXED 5-doc sample of the dedup keepers chosen by
    // md5(doc_id) order (q93's deterministic-ordering convention: the
    // sample is reproducible across runs and engines, and uncorrelated
    // with doc_id position), carrying the signals a reviewer triages by
    // (tokens, chars, unique-word per-mille — integer `div`, positives
    // only). One keeper semi join + one per-source window; the sample is
    // k·n_sources rows however large the corpus. Oracle: the shared
    // keeper CTE + the identical md5 ROW_NUMBER replay.
    "q175_review_sample" -> Q(
      "Release review sample: 5 md5-ordered keeper docs per source with " +
        "reviewer triage signals",
      s"""WITH RECURSIVE
        |${graft.queries.Dedup.KeeperCteSql},
        |rd AS (
        |  SELECT d.source, d.doc_id, string_split(d.text, ' ') AS toks,
        |    d.n_chars
        |  FROM documents d JOIN keepers USING (doc_id)),
        |rs AS (SELECT source, doc_id, len(toks) AS n_toks,
        |        len(list_distinct(toks)) AS n_uniq, n_chars FROM rd),
        |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |      FROM rs)
        |SELECT source, CAST(rnk AS BIGINT) AS rank, doc_id,
        |  CAST(n_toks AS BIGINT) AS n_toks,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST((1000 * n_uniq) // n_toks AS BIGINT) AS uniq_pm
        |FROM rr WHERE rnk <= 5 ORDER BY source, rank""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val keep = graft.queries.Dedup.dedupManifest(docs)
        .filter(col("keep") === 1).select(col("doc_id"))
      val toks = split(col("text"), " ", -1)
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs.join(keep, Seq("doc_id"), "left_semi")
        .select(col("source"), col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          size(array_distinct(toks)).cast("long").as("n_uniq"),
          col("n_chars").cast("long").as("n_chars"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("doc_id"), col("n_toks"),
          col("n_chars"),
          expr("(n_uniq * 1000) div n_toks").cast("long").as("uniq_pm"))
        .orderBy("source", "rank")
    },

    // CORPUS INTEGRITY audit ([[integrityAudit]]): the precondition gauge
    // every other operator assumes — per source, the profile (docs, chars,
    // id span) plus violation counts: duplicate ids, n_chars disagreeing
    // with the text, empty/null text. One scan, two exchanges (the id
    // grain for cross-source duplicate detection, then the source rollup).
    // On the fixture every violation column is zero, which is exactly
    // what the oracle attests (the q126 all-ok precedent: the damage
    // paths — planted dup ids, doctored n_chars, empties — are exercised
    // in CurationSpec where the data can safely be vandalized); the
    // profile columns carry real per-source values, so the counting
    // machinery itself is hash-checked, not just the zeros.
    "q166_integrity_audit" -> Q(
      "Corpus integrity audit: per-source profile + duplicate-id / " +
        "n_chars-mismatch / empty-text violation counts",
      """WITH d AS (
        |  SELECT source, doc_id, text, n_chars,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS id_n
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        |  CAST(SUM(CASE WHEN id_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_id,
        |  CAST(SUM(CASE WHEN text IS NULL THEN 0
        |                WHEN n_chars <> LENGTH(text) THEN 1
        |                ELSE 0 END) AS BIGINT) AS n_chars_bad,
        |  CAST(SUM(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
        |FROM d GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      integrityAudit(Tables(s, dir, "documents"))
    },

    // RELEASE manifest — the last-mile composition no stand-alone query
    // covers: q97's dedup keepers fed straight through the pack cumsum
    // and the epoch-1 shard assignment in ONE declarative plan, per kept
    // doc its (pack_id, shard_id) address. This is the artifact that
    // walks from "raw corpus" to "what the loader reads" without a
    // persisted intermediate: dedup graph → components → ranked keepers
    // → per-source pack windows → md5-shuffled shard cumsum. Each stage
    // is the verbatim stand-alone operator ([[graft.queries.Dedup.dedupManifest]],
    // [[graft.ops.ShardExport.packedDocs]]/[[graft.ops.ShardExport.assignShards]]),
    // so the cost is the honest sum of what it composes and no stage can
    // disagree with its registered sibling; the oracle stitches the SAME
    // shared CTEs (Dedup.KeeperCteSql + the q105/q162 pack-shard arms).
    "q164_release_manifest" -> Q(
      "Release manifest: dedup keepers packed and shard-assigned in one " +
        "plan — per kept doc its (pack_id, shard_id) loader address",
      s"""WITH RECURSIVE
        |${graft.queries.Dedup.KeeperCteSql},
        |kd AS (
        |  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_toks
        |  FROM documents d JOIN keepers USING (doc_id)),
        |p AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM kd),
        |d2 AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id,
        |         doc_id, n_toks
        |       FROM p),
        |pk AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
        |       FROM d2 GROUP BY source, pack_id),
        |k1 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk),
        |c1 AS (SELECT source, pack_id,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k1),
        |a1 AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_id FROM c1)
        |SELECT d2.source, d2.doc_id, CAST(d2.n_toks AS BIGINT) AS n_toks,
        |  d2.pack_id, a1.shard_id
        |FROM d2 JOIN a1 ON a1.source = d2.source AND a1.pack_id = d2.pack_id
        |ORDER BY d2.source, d2.pack_id, d2.doc_id""".stripMargin) { (s, dir) =>
      // keepers from the PERSISTED full-corpus dedup manifest (q149's
      // warm store — persistComponents IS dedupManifest made durable):
      // the release assignment consumes the dedup tier's stored output
      // instead of re-deriving it per call, the q191 stored-probe move.
      // Row-identical by the store contract; the oracle replays the full
      // keeper CTE + packing chain over the same corpus either way.
      val docs = Tables(s, dir, "documents")
      val thr = 0.7
      val path = DedupStore.componentStoreFor(docs, dir, thr, "full")
      releaseManifestOver(docs,
        s.read.parquet(DedupStore.manifestSubdir(path, thr))
          .filter(col("keep") === 1).select(col("doc_id")))
    },

    // TAKEDOWN impact locator ([[releaseManifest]] + [[packManifest]] +
    // [[boundaryPack]] probed by one broadcast id set): the compliance
    // question every published corpus eventually gets — "where does doc
    // X physically live?" — answered as one row per (doc, artifact):
    // its (pack_id, shard_id) release address, its (pack_id, tok_start)
    // loader span, its (slot, rn) boundary-pack cell. Addresses are
    // window functions of the WHOLE corpus, so each arm runs its
    // sibling's verbatim plan (the q164 composition precedent) and the
    // tiny takedown set semi-joins AFTER the window — Catalyst cannot
    // (and must not) push the filter through row_number. In production
    // the three manifests are persisted artifacts and the same
    // broadcast semi-join probes them as stored parquet — O(takedown
    // set) per artifact, no recomputation; the registered form attests
    // the addresses themselves. A non-keeper takedown doc correctly has
    // NO release row (its bytes were never published there) while its
    // pack/boundary rows still locate it in the loader manifests.
    "q172_takedown_locator" -> Q(
      "Takedown impact locator: every published-artifact address " +
        "(release shard, pack span, boundary slot) holding a takedown doc",
      s"""WITH RECURSIVE
        |${graft.queries.Dedup.KeeperCteSql},
        |ids AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
        |kd AS (
        |  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_toks
        |  FROM documents d JOIN keepers USING (doc_id)),
        |p AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM kd),
        |d2 AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id,
        |         doc_id, n_toks
        |       FROM p),
        |pk AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
        |       FROM d2 GROUP BY source, pack_id),
        |k1 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk),
        |c1 AS (SELECT source, pack_id,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k1),
        |asg AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_id FROM c1),
        |rel AS (
        |  SELECT d2.source, d2.doc_id, 'release' AS artifact,
        |    d2.pack_id AS a1, asg.shard_id AS a2
        |  FROM d2 JOIN asg ON asg.source = d2.source AND asg.pack_id = d2.pack_id
        |  JOIN ids ON ids.doc_id = d2.doc_id),
        |t2 AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c2 AS (
        |  SELECT source, doc_id, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t2),
        |spans AS (
        |  SELECT source, doc_id, 'pack_span' AS artifact,
        |    CAST(off // 512 AS BIGINT) AS a1, CAST(off % 512 AS BIGINT) AS a2
        |  FROM c2 JOIN ids USING (doc_id)),
        |t3 AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ln
        |  FROM documents),
        |s3 AS (SELECT source, doc_id, ${slotCaseSql(512)} AS slot FROM t3),
        |r3 AS (SELECT *, ROW_NUMBER() OVER (
        |         PARTITION BY source, slot ORDER BY doc_id) - 1 AS rn
        |       FROM s3),
        |bnd AS (
        |  SELECT source, doc_id, 'boundary_slot' AS artifact,
        |    CAST(slot AS BIGINT) AS a1, CAST(rn AS BIGINT) AS a2
        |  FROM r3 JOIN ids USING (doc_id))
        |SELECT * FROM (
        |  SELECT * FROM rel UNION ALL
        |  SELECT * FROM spans UNION ALL
        |  SELECT * FROM bnd)
        |ORDER BY doc_id, artifact""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val ids = broadcast(docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id")))
      val rel = releaseManifestFor(s, dir).join(ids, Seq("doc_id"), "left_semi")
        .select(col("source"), col("doc_id"), lit("release").as("artifact"),
          col("pack_id").as("a1"), col("shard_id").as("a2"))
      val spans = packManifest(docs).join(ids, Seq("doc_id"), "left_semi")
        .select(col("source"), col("doc_id"), lit("pack_span").as("artifact"),
          col("pack_id").as("a1"), col("tok_start").as("a2"))
      val capacity = floor(lit(512.0) / col("bucket_slot")).cast("long")
      val bnd = boundaryPack(docs).join(ids, Seq("doc_id"), "left_semi")
        .select(col("source"), col("doc_id"),
          lit("boundary_slot").as("artifact"),
          col("bucket_slot").cast("long").as("a1"),
          (col("window_id") * capacity + col("slot_pos")).as("a2"))
      rel.unionByName(spans).unionByName(bnd).orderBy("doc_id", "artifact")
    },

    // TAKEDOWN EXECUTION ([[takedownRelease]]): the write half of q172's
    // locator and the third manifest-surgery direction after q171's
    // retract — every LIVE row ('published'/'added') holding a takedown
    // doc (the q172 %97 convention) flips to 'taken_down' at its
    // immutable published address; 'revoked' rows stay revoked (the
    // dedup demotion stands), which makes the op idempotent and
    // composable with retraction in either order. Oracle: q169's
    // shared relrows template (IncrementalReleaseOracleSql, verbatim —
    // the KeeperCteSql house pattern) wrapped in the same CASE flip, so
    // the release arms cannot drift between the two oracles.
    "q176_takedown_exec" -> Q(
      "Takedown execution: live release rows holding a takedown doc flip " +
        "to taken_down at their published address; revoked rows stand",
      s"""$IncrementalReleaseOracleSql,
        |td AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0)
        |SELECT source, doc_id, n_toks, pack_id, shard_id,
        |  CASE WHEN status IN ('published', 'added')
        |        AND doc_id IN (SELECT doc_id FROM td)
        |       THEN 'taken_down' ELSE status END AS status
        |FROM relrows
        |ORDER BY source, pack_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      takedownRelease(incrementalReleaseFor(s, dir),
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id")))
    },

    // TAKEDOWN VERIFICATION ([[takedownVerify]]): the read-back gauge that
    // closes the lifecycle (locate q172 → execute q176 → verify). Audits
    // the post-execution manifest per source: rows flipped to
    // 'taken_down', takedown docs shielded by a standing dedup demotion
    // (still 'revoked' — idempotence contract), and n_live_leaks — the
    // compliance number, structurally zero on a correct execution, which
    // is exactly the clean state the oracle replays (the q126/q166
    // clean-corpus convention; the planted-leak path lives in
    // CurationSpec). Oracle: q176's post-takedown manifest — the shared
    // relrows template + the same CASE flip, verbatim — aggregated.
    "q177_takedown_verify" -> Q(
      "Takedown compliance verification: per-source taken_down/shielded " +
        "counts and the live-leak gauge (zero on a correct execution)",
      s"""$IncrementalReleaseOracleSql,
        |td AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
        |post AS (
        |  SELECT source, doc_id,
        |    CASE WHEN status IN ('published', 'added')
        |          AND doc_id IN (SELECT doc_id FROM td)
        |         THEN 'taken_down' ELSE status END AS status,
        |    CASE WHEN doc_id IN (SELECT doc_id FROM td) THEN 1 ELSE 0 END AS is_td
        |  FROM relrows)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN status = 'taken_down' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_taken_down,
        |  CAST(SUM(CASE WHEN is_td = 1 AND status = 'revoked' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_shielded,
        |  CAST(SUM(CASE WHEN is_td = 1 AND status IN ('published', 'added')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_live_leaks,
        |  CAST(SUM(CASE WHEN status = 'published' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_published,
        |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_added
        |FROM post GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val td = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"))
      takedownVerify(takedownRelease(incrementalReleaseFor(s, dir), td), td)
    },

    "q58_seq_packing" -> Q(
      "Sequence packing audit: 512-token context windows per source " +
        "(concat-then-chunk)",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT source, CAST(off // 512 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ", -1)).as("tok"))
        .withColumn("off", coalesce(sum(col("tok")).over(w), lit(0)))
        .groupBy(col("source"), floor(col("off") / 512).cast("long").as("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).cast("long").as("sum_tokens"))
        .orderBy("source", "pack_id")
    },

    // Training-shard EXPORT — the pipeline's actual last mile (see
    // [[graft.ops.ShardExport]]): q58's packs, md5-epoch-shuffled, assigned
    // to 2048-token shards by exclusive global token cumsum (computed via
    // the scale-safe 256-bucket two-pass; DuckDB replays it as one global
    // window — identical values), WRITTEN as per-shard parquet file sets,
    // manifest computed from the files on disk. The oracle replaying the
    // whole chain against the written bytes is the end-to-end check that
    // the export is deterministic AND complete; ShardExportSpec adds the
    // re-run byte-identity assertion.
    "q105_shard_export" -> Q(
      "Tokenized shard export: epoch-shuffled 2048-token shards written to " +
        "disk, manifest (n_seqs/n_docs/n_tokens/content_hash) from the files",
      s"$ShardManifestSelectSql ORDER BY shard_id") { (s, dir) =>
      // per-PROCESS output dir: unlike the warm-reusable band/IVF indexes,
      // this artifact is rewritten (SaveMode.Overwrite) on every call, so
      // two concurrent processes (e.g. bench and verify) sharing one fixed
      // path would race — one deleting files the other is reading for its
      // manifest. The pid token isolates them; within a process, calls are
      // sequential and the rewrite is deterministic.
      val out = WarmStores.key(dir, "shards", "p512s2048", WarmStores.Pid)
      val epochDir = graft.ops.ShardExport.write(
        Tables(s, dir, "documents"), out, epoch = 1, packTokens = 512, shardTokens = 2048)
      graft.ops.ShardExport.manifest(s, epochDir)
    },

    // SHARD INTEGRITY AUDIT ([[graft.ops.ShardExport.audit]]): the check a
    // training run makes before trusting a published epoch — recompute the
    // manifest from the files and reconcile against the stored manifest
    // (missing/orphan/corrupt/ok per shard). On an undamaged store every
    // shard audits `ok` with the attested counts, which is exactly what
    // the oracle replays (the shared q105 chain + a constant status);
    // the damage paths (deleted shard dir → missing, stray dir → orphan,
    // doctored manifest row → corrupt) are exercised in ShardExportSpec
    // where the filesystem can be safely vandalized. Artifact is
    // write-once per process (pid-scoped like q105's, separate dir so the
    // two queries stay order-independent): what each call MEASURES is the
    // audit itself — the recount scan + the kilobyte reconcile join — not
    // the export that seeded it.
    "q126_shard_audit" -> Q(
      "Shard integrity audit: manifest recomputed from the written files " +
        "reconciled against the stored manifest, status per shard",
      s"""SELECT shard_id, 'ok' AS status, n_seqs, n_docs, n_tokens, content_hash
         |FROM ($ShardManifestSelectSql) m ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val out = WarmStores.key(dir, "shards", "audit", "p512s2048", WarmStores.Pid)
      val epochDir = s"$out/epoch=1"
      val manifestStore = s"$out/manifest_store"
      Curation.synchronized {
        if (!graft.ops.StoreSwap.committed(s, manifestStore)) {
          graft.ops.ShardExport.write(
            Tables(s, dir, "documents"), out, epoch = 1,
            packTokens = 512, shardTokens = 2048)
          StoreSwap.write(graft.ops.ShardExport.manifest(s, epochDir), manifestStore)
        }
      }
      graft.ops.ShardExport.audit(s, epochDir, s.read.parquet(manifestStore))
    },

    // INCREMENTAL export ([[graft.ops.ShardExport.append]]): the daily
    // production shape — day-0 base shards (docs with doc_id%5≠0, the
    // q66/q110/q113 batch convention) plus the day-1 batch appended as NEW
    // shards only; published shard files never rewritten. The oracle
    // replays both chains: the q105 CTE over the base, then the batch
    // packed among itself with per-source pack-id offsets (base max+1)
    // and shard ids offset by the base max+1 — exactly the append rule.
    // Manifest is computed from the files on disk, so the check also
    // attests that append really wrote what the arithmetic says.
    "q120_incremental_export" -> Q(
      "Incremental shard export: immutable day-0 shards + O(batch) appended " +
        "batch shards, unified manifest from the written files",
      """WITH t0 AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
        |  FROM documents WHERE doc_id % 5 <> 0),
        |p0 AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t0),
        |d0 AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id, doc_id, n_toks FROM p0),
        |pk0 AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
        |        FROM d0 GROUP BY source, pack_id),
        |k0 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk0),
        |c0 AS (SELECT *,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k0),
        |a0 AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_id FROM c0),
        |mx AS (SELECT MAX(shard_id) + 1 AS sbase FROM a0),
        |np AS (SELECT source, MAX(pack_id) + 1 AS pack_base FROM d0 GROUP BY source),
        |t1 AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
        |  FROM documents WHERE doc_id % 5 = 0),
        |p1 AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t1),
        |d1 AS (SELECT p1.source,
        |         CAST(off // 512 AS BIGINT) + COALESCE(np.pack_base, 0) AS pack_id,
        |         p1.doc_id, p1.n_toks
        |       FROM p1 LEFT JOIN np ON np.source = p1.source),
        |pk1 AS (SELECT source, pack_id, SUM(n_toks) AS pack_toks
        |        FROM d1 GROUP BY source, pack_id),
        |k1 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk1),
        |c1 AS (SELECT *,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k1),
        |a1 AS (SELECT source, pack_id,
        |         CAST(goff // 2048 AS BIGINT) + (SELECT sbase FROM mx) AS shard_id
        |       FROM c1),
        |alljoin AS (
        |  SELECT a0.shard_id, d0.source, d0.pack_id, d0.doc_id, d0.n_toks
        |  FROM d0 JOIN a0 ON d0.source = a0.source AND d0.pack_id = a0.pack_id
        |  UNION ALL
        |  SELECT a1.shard_id, d1.source, d1.pack_id, d1.doc_id, d1.n_toks
        |  FROM d1 JOIN a1 ON d1.source = a1.source AND d1.pack_id = a1.pack_id)
        |SELECT shard_id,
        |  COUNT(DISTINCT (source, pack_id)) AS n_seqs,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(((doc_id % 2147483647) * 2654435761) % 1000000007) AS BIGINT)
        |    AS content_hash
        |FROM alljoin
        |GROUP BY shard_id ORDER BY shard_id""".stripMargin) { (s, dir) =>
      // the day-0 base is a one-time per-process artifact (pid-scoped like
      // q105 — no cross-process overwrite race); what every run MEASURES
      // is the honest day-boundary work: reset any prior append, append
      // the batch, manifest. Output is deterministic either way (the
      // append re-deals identically over the identical base).
      val out = WarmStores.key(dir, "shards", "incr", "p512s2048", WarmStores.Pid)
      val docs = Tables(s, dir, "documents")
      val marker = java.nio.file.Paths.get(out, "_BASE_MAX")
      val baseManifestPath = s"$out/base_manifest"
      val epochDir = s"$out/epoch=1"
      val baseMax = Curation.synchronized {
        if (java.nio.file.Files.exists(marker)) {
          val m = java.nio.file.Files.readString(marker).trim.toLong
          graft.ops.ShardExport.resetAppended(epochDir, m)
          m
        } else {
          graft.ops.ShardExport.write(
            docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), out,
            epoch = 1, packTokens = 512, shardTokens = 2048)
          val m = s.read.parquet(epochDir)
            .agg(max(col("shard_id").cast("long"))).head.getLong(0)
          // attest the published shards ONCE; their files are immutable
          // under append (byte-stability spec-proved), so these rows are
          // the artifact every later day reuses
          StoreSwap.write(graft.ops.ShardExport.manifest(s, epochDir), baseManifestPath)
          java.nio.file.Files.writeString(marker, m.toString)
          m
        }
      }
      require(baseMax >= 0, s"empty base export at $epochDir")
      graft.ops.ShardExport.append(s,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), epochDir,
        epoch = 1, packTokens = 512, shardTokens = 2048)
      graft.ops.ShardExport.manifestIncremental(s, epochDir,
        s.read.parquet(baseManifestPath), baseMax)
    },

    // EPOCH REMAP audit ([[graft.ops.ShardExport.assignShards]]): shard
    // assignment is a PURE function of (pack key, epoch) — the md5 skey
    // reshuffles the global pack order per epoch — so giving a training
    // run its epoch-2 global order costs one manifest computation over
    // pack KEYS (tokens/512 rows, never the documents), not a second
    // export of the corpus. The audit derives both epochs' assignments
    // from ONE pack layout and flags movement; conservation (every pack
    // assigned in both epochs, same token mass) is what the join + oracle
    // hash-check certify. The oracle replays the 256-bucket two-pass
    // cumsum as DuckDB's single global window — equal because bucket =
    // the skey's first two hex chars, so (bucket, skey) order IS skey
    // order (the q105 argument, here twice).
    "q162_epoch_remap" -> Q(
      "Epoch remap audit: epochs 1 and 2 shard assignments from one pack " +
        "layout, movement flagged — reshuffle is manifest-only",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t),
        |pk AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id,
        |         SUM(n_toks) AS pack_toks
        |       FROM p GROUP BY 1, 2),
        |k1 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |       FROM pk),
        |c1 AS (SELECT source, pack_id,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k1),
        |a1 AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_e1 FROM c1),
        |k2 AS (SELECT *,
        |         md5(source || ':' || CAST(pack_id AS VARCHAR) || ':2') AS skey
        |       FROM pk),
        |c2 AS (SELECT source, pack_id,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k2),
        |a2 AS (SELECT source, pack_id, CAST(goff // 2048 AS BIGINT) AS shard_e2 FROM c2)
        |SELECT pk.source, pk.pack_id, CAST(pk.pack_toks AS BIGINT) AS pack_toks,
        |  a1.shard_e1, a2.shard_e2,
        |  CAST(CASE WHEN a1.shard_e1 <> a2.shard_e2 THEN 1 ELSE 0 END AS INT) AS moved
        |FROM pk
        |JOIN a1 ON a1.source = pk.source AND a1.pack_id = pk.pack_id
        |JOIN a2 ON a2.source = pk.source AND a2.pack_id = pk.pack_id
        |ORDER BY pk.source, pk.pack_id""".stripMargin) { (s, dir) =>
      val pd = graft.ops.ShardExport.packedDocs(Tables(s, dir, "documents"), 512)
      val packs = pd.groupBy("source", "pack_id").agg(sum("n_toks").as("pack_toks"))
      val e1 = graft.ops.ShardExport.assignShards(packs, epoch = 1, shardTokens = 2048)
        .select(col("source"), col("pack_id"), col("pack_toks"),
          col("shard_id").as("shard_e1"))
      val e2 = graft.ops.ShardExport.assignShards(packs, epoch = 2, shardTokens = 2048)
        .select(col("source"), col("pack_id"), col("shard_id").as("shard_e2"))
      e1.join(e2, Seq("source", "pack_id"))
        .select(col("source"), col("pack_id"),
          col("pack_toks").cast("long").as("pack_toks"),
          col("shard_e1"), col("shard_e2"),
          (col("shard_e1") =!= col("shard_e2")).cast("int").as("moved"))
        .orderBy("source", "pack_id")
    },

    // SHARD BALANCE audit: the gauge that justifies the md5 epoch
    // shuffle — at 100 TB a skewed shard is a straggler training step,
    // so the release pipeline checks per-shard token mass against the
    // uniform share before publishing. Derived from pack KEYS (the q162
    // argument: tokens/512 rows, no corpus pass); deviation in basis
    // points via ONE division + floor (the q141 IEEE-exact rule). The
    // final window runs over shard ROLLUP rows — bounded by total
    // tokens / 2048, and at production scale this gauge runs per epoch
    // on the manifest, kilobytes not terabytes.
    "q170_shard_balance" -> Q(
      "Shard balance audit: per-shard token mass vs the uniform share, " +
        "deviation in basis points",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t),
        |pk AS (SELECT source, CAST(off // 512 AS BIGINT) AS pack_id,
        |         SUM(n_toks) AS pack_toks
        |       FROM p GROUP BY 1, 2),
        |k AS (SELECT *,
        |        md5(source || ':' || CAST(pack_id AS VARCHAR) || ':1') AS skey
        |      FROM pk),
        |c AS (SELECT source, pack_id, pack_toks,
        |        COALESCE(SUM(pack_toks) OVER (ORDER BY skey, source, pack_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        |      FROM k),
        |sh AS (SELECT CAST(goff // 2048 AS BIGINT) AS shard_id,
        |         COUNT(*) AS n_packs, CAST(SUM(pack_toks) AS BIGINT) AS n_tokens
        |       FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
        |          COUNT(*) AS n_shards FROM sh)
        |SELECT shard_id, n_packs, n_tokens,
        |  CAST(FLOOR(10000.0 * ABS(n_tokens * tot.n_shards - tot.total)
        |    / tot.total) AS BIGINT) AS dev_bp
        |FROM sh CROSS JOIN tot ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val pd = graft.ops.ShardExport.packedDocs(Tables(s, dir, "documents"), 512)
      val packs = pd.groupBy("source", "pack_id").agg(sum("n_toks").as("pack_toks"))
      val sh = graft.ops.ShardExport
        .assignShards(packs, epoch = 1, shardTokens = 2048)
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_packs"),
          sum("pack_toks").cast("long").as("n_tokens"))
      val tot = sh.agg(sum("n_tokens").cast("long").as("total"),
        count(lit(1)).as("n_shards"))
      sh.crossJoin(broadcast(tot))
        .select(col("shard_id"), col("n_packs"), col("n_tokens"),
          floor(lit(10000.0) * abs(col("n_tokens") * col("n_shards") - col("total"))
            / col("total")).cast("long").as("dev_bp"))
        .orderBy("shard_id")
    },
  )
}
