package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.{HashExpressions, Text}
import graft.queries.{Dedup, DedupStore}
import graft.queries.Dedup.{bandRows, minhashSig}

/** Streaming near-dup guard against the PERSISTED corpus band index — the
  * online form of the batch incremental dedup (q66): documents arriving as
  * a feed are banded with the SAME shared constants as every batch minhash
  * path ([[graft.queries.Dedup.ShingleK]] etc. — the stream and the batch
  * cannot band differently), probed against the stored `bands` artifact,
  * and every candidate is jaccard-VERIFIED against the stored shingle
  * sets before it flags. Unlike [[NearDupStream]] (within-stream band
  * claiming, no verification, bounded false-suppression) this path has
  * NO false positives: a flag means an exact shingle-set jaccard ≥
  * threshold against a real corpus document.
  *
  * Shape: every join is stream-STATIC (the ContamGuardStream pattern) and
  * therefore STATELESS — each micro-batch plans a fresh join against the
  * current index snapshot; after a batch [[graft.queries.DedupStore.absorbBatch]]
  * the next micro-batch automatically probes the grown index. State
  * appears only in the final watermarked per-(window, doc) rollup,
  * bounded by rate × (watermark + window). The stream side carries its
  * own shingle set as a column (computed once in the same projection as
  * the signature), so verification needs no second pass over the text.
  *
  * At 100 TB the static band table is hive-partitioned by `band` (8
  * directories of (bhash, doc_id) runs) and the shingle store is keyed by
  * doc_id — each micro-batch shuffles only ITS OWN rows against
  * co-located index buckets; the corpus side streams through the join.
  *
  * Within-stream duplicates (two copies arriving in the same feed) are
  * NOT this operator's job — chain [[NearDupStream]] upstream for that;
  * this guard answers "is this doc already in the corpus".
  */
object IndexDedupStream {

  /** Flag streamed docs with a verified near-dup in the corpus behind
    * `indexPath` (a [[graft.queries.DedupStore.persistBandIndex]] artifact).
    * `docs` must carry `doc_id`, `ts` (event time) and `text`. Emits
    * (doc_id, n_corpus_dups, max_jaccard) per finalized window; docs with
    * no verified corpus match never emit.
    */
  def guard(
      spark: SparkSession,
      docs: DataFrame,
      indexPath: String,
      threshold: Double = 0.7,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 minute"): DataFrame = {
    val bands = spark.read.parquet(s"$indexPath/bands")
      .select(col("band"), col("bhash"), col("doc_id").as("existing_id"))
    val shingles = spark.read.parquet(s"$indexPath/shingles")
      .select(col("doc_id").as("existing_id"), col("sh").as("sh_old"))
    // one projection computes signature AND shingle set; the set rides
    // along so the verify join needs no second text pass
    val banded = bandRows(docs.withWatermark("ts", watermarkDelay),
      minhashSig(col("text")), col("doc_id"), col("ts"),
      HashExpressions.shingleHashSet(
        Text.tokens(col("text")), k = Dedup.ShingleK).as("sh_new"))
    banded
      .join(bands, Seq("band", "bhash")) // stream-static: stateless
      .join(shingles, Seq("existing_id")) // stream-static: stateless
      .select(col("doc_id"), col("ts"), col("existing_id"),
        HashExpressions.jaccardSorted(col("sh_new"), col("sh_old")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // a pair matching on several bands appears several times — collapse
      // to distinct corpus partners inside the windowed rollup
      // (collect_set, not countDistinct: streaming aggregation supports
      // the former; the set is bounded by the doc's corpus-dup count)
      .groupBy(window(col("ts"), windowLength), col("doc_id"))
      .agg(
        size(collect_set(col("existing_id"))).cast("long").as("n_corpus_dups"),
        max(col("jaccard")).as("max_jaccard"))
      .select(col("doc_id"), col("n_corpus_dups"), col("max_jaccard"))
  }

  def start(
      spark: SparkSession,
      docs: DataFrame,
      indexPath: String,
      queryName: String = "index_dedup",
      threshold: Double = 0.7,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 minute",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    guard(spark, docs, indexPath, threshold, watermarkDelay, windowLength)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** The EXACT tier of the same guard — the online q113: streamed docs
    * whose q32 fingerprint already exists in the persisted
    * [[graft.queries.DedupStore.persistExactIndex]] store emit with their
    * stored canonical id. One stream-static hash join, fully stateless
    * (no watermark, no window — exact matching needs no rollup: a doc
    * either hits a stored fingerprint or it doesn't). Chain BEFORE the
    * banded [[guard]] in production: byte-identical reposts — most ingest
    * duplicates — are settled here for the price of one md5 per doc.
    */
  def exactGuard(
      spark: SparkSession,
      docs: DataFrame,
      indexPath: String): DataFrame = {
    val store = spark.read.parquet(s"$indexPath/exact_fp")
    docs
      .select(col("doc_id"),
        graft.functions.Text.fingerprint(col("text")).as("fp"))
      .join(store, Seq("fp")) // stream-static: stateless
      .select(col("doc_id"), col("keep_id").as("canon_id"))
  }

  def startExact(
      spark: SparkSession,
      docs: DataFrame,
      indexPath: String,
      queryName: String = "exact_dedup_guard",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    exactGuard(spark, docs, indexPath)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(trigger)
      .start()
}
