package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard export — the data pipeline's LAST mile (the reference's
  * whole reason to exist is tuned file output, `pyarrow/main.py:137-150`;
  * this is the same concern at the pipeline's other end): q58's packed
  * sequences, epoch-shuffled DETERMINISTICALLY, assigned to size-budgeted
  * shards, written as one file set per shard plus a manifest.
  *
  * Determinism is the design center (a retried/re-run export must produce
  * byte-identical shard assignment — never `rand()`):
  *   - the epoch shuffle orders packs by `md5(source:pack_id:epoch)` — a
  *     uniform, seedable permutation both Spark and DuckDB compute
  *     identically (the q93 precedent);
  *   - shard_id = exclusive-cumulative-tokens DIV budget in that order —
  *     the q58 pack rule lifted to shard granularity, so shards fill to
  *     the token budget with <1 pack overshoot.
  *
  * The global running sum is computed SCALE-SAFELY: a single unpartitioned
  * window would serialize the corpus through one reducer, so the export
  * two-passes it — (1) per-bucket token totals over the md5-prefix bucket
  * (256 groups, collected: a BOUNDED 256-row driver step) become exclusive
  * bucket offsets; (2) a window PARTITIONED by bucket computes the
  * within-bucket exclusive cumsum in parallel, and bucket_offset +
  * within_offset is EXACTLY the global cumsum because bucket = md5 prefix
  * means (bucket, md5) order IS md5 order. DuckDB replays it as one plain
  * global window — same values, which is what the oracle checks.
  */
object ShardExport {

  /** q58's packing, re-stated at row granularity: every doc gets its pack
    * coordinates (source, pack_id) from the per-source exclusive token
    * cumsum in doc_id order. Window partitioned by source — parallel per
    * stratum, the q58 scale shape.
    */
  def packedDocs(docs: DataFrame, packTokens: Int): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("source"), col("doc_id"), col("text"),
        size(split(col("text"), " ", -1)).as("n_toks"))
      .withColumn("off", coalesce(sum(col("n_toks")).over(w), lit(0)))
      .withColumn("pack_id", floor(col("off") / packTokens).cast("long"))
      .drop("off")
  }

  /** Deterministic epoch-shuffled shard assignment over pack keys.
    * Input: one row per pack with its token total. Output adds
    * (skey, shard_id). See the object doc for the two-pass cumsum.
    */
  def assignShards(packs: DataFrame, epoch: Int, shardTokens: Int): DataFrame = {
    val keyed = packs.withColumn("skey",
      md5(concat_ws(":", col("source"), col("pack_id"), lit(epoch))))
      .withColumn("bucket", conv(substring(col("skey"), 1, 2), 16, 10).cast("int"))
    // pass 1: exclusive per-bucket offsets — 256 bounded rows via the driver
    val totals = keyed.groupBy("bucket").agg(sum("pack_toks").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
      .tail.zip(totals).map { case ((b, end), (_, t)) => (b, end - t) }.toMap
    val bucketOff = offsets.foldLeft(lit(0L)) { case (e, (b, off)) =>
      when(col("bucket") === b, lit(off)).otherwise(e)
    }
    // pass 2: within-bucket exclusive cumsum, parallel across buckets
    val wIn = Window.partitionBy("bucket").orderBy("skey", "source", "pack_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    keyed
      .withColumn("goff", bucketOff + coalesce(sum(col("pack_toks")).over(wIn), lit(0L)))
      .withColumn("shard_id", floor(col("goff") / shardTokens).cast("long"))
      .drop("bucket", "goff")
  }

  /** Export: write `outDir/epoch=<epoch>/shard_id=<id>/...` parquet rows
    * (shard_id, source, pack_id, doc_id, text) and return the written
    * root. One file set per shard via partitionBy — at 100 TB each shard
    * directory is one training-loader unit and shards write in parallel.
    */
  def write(docs: DataFrame, outDir: String, epoch: Int,
            packTokens: Int, shardTokens: Int): String = {
    // snapped once (the incrementalRelease pub0 lever): the pack table
    // feeds assignShards' bounded offset collect, the shard-assignment
    // branch and the final address join — unsnapped, each of those
    // actions re-ran the corpus token-cumsum window chain
    val pd = org.apache.spark.sql.graft.shims.snap(packedDocs(docs, packTokens), "shard.packs")
    val packs = pd.groupBy("source", "pack_id").agg(sum("n_toks").as("pack_toks"))
    val assigned = assignShards(packs, epoch, shardTokens)
      .select(col("source"), col("pack_id"), col("shard_id"))
    val dir = s"$outDir/epoch=$epoch"
    StoreSwap.write(
      pd.join(assigned, Seq("source", "pack_id"))
        .select(col("shard_id"), col("source"), col("pack_id"), col("doc_id"), col("text"))
        .repartition(col("shard_id")),
      dir, partitionBy = Seq("shard_id"))
    dir
  }

  /** APPEND-ONLY daily export — the q113/q110 incremental story carried
    * through to the pipeline's last mile: a new batch is packed and
    * sharded AMONG ITSELF ONLY (per-source pack ids continue after the
    * existing per-source max; shard ids continue after the existing global
    * max, each a bounded aggregate over the existing manifest columns),
    * and its shards land as NEW `shard_id=` directories via parquet
    * append. Existing shard files are never rewritten — O(batch) I/O per
    * day, and every already-published shard stays byte-stable (training
    * jobs may already hold references to it).
    *
    * Deliberate semantics: append-only is NOT a from-scratch re-export —
    * a full rerun over corpus ∪ batch would interleave batch docs into
    * old packs by doc_id. Publishing immutable shards means accepting
    * that batch docs pack among themselves; the alternative (repacking)
    * rewrites published data every day. The determinism contract is
    * unchanged: re-running the same append over the same state reproduces
    * identical assignments (md5 keys, never rand()).
    */
  def append(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      epochDir: String,
      epoch: Int,
      packTokens: Int,
      shardTokens: Int): String = {
    StoreSwap.write(
      appendAssembly(spark, batch, epochDir, epoch, packTokens, shardTokens)
        .repartition(col("shard_id")),
      epochDir, append = true, partitionBy = Seq("shard_id"))
    epochDir
  }

  /** The rows [[append]] writes, exposed pre-write so PlanShapeSpec can
    * pin the per-batch plan the ingest stream re-executes every
    * micro-batch (bounded-state broadcast, batch-only scan of the epoch).
    */
  private[graft] def appendAssembly(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      epochDir: String,
      epoch: Int,
      packTokens: Int,
      shardTokens: Int): DataFrame = {
    val existing = spark.read.parquet(epochDir)
    // bounded: one row per source / one global max. The snap severs the
    // write plan's lazy scan of the very directory it appends to (the
    // appendToExactIndex pattern — a retried write stage must not observe
    // its own partial output through this branch).
    val nextPack = org.apache.spark.sql.graft.shims.snap(existing.groupBy("source")
      .agg((max("pack_id") + 1).as("pack_base")), "shard.nextPack")
    val shardBase = existing
      .agg(max(col("shard_id").cast("long"))).head.getLong(0) + 1L
    val pd = packedDocs(batch, packTokens)
      .join(broadcast(nextPack), Seq("source"), "left")
      .withColumn("pack_id", col("pack_id") + coalesce(col("pack_base"), lit(0L)))
      .drop("pack_base")
    val packs = pd.groupBy("source", "pack_id").agg(sum("n_toks").as("pack_toks"))
    val assigned = assignShards(packs, epoch, shardTokens)
      .withColumn("shard_id", col("shard_id") + lit(shardBase))
      .select(col("source"), col("pack_id"), col("shard_id"))
    pd.join(assigned, Seq("source", "pack_id"))
      .select(col("shard_id"), col("source"), col("pack_id"), col("doc_id"), col("text"))
  }

  /** Roll an epoch dir back to its day-0 state: delete every `shard_id=`
    * directory past `baseMaxShard` (the appended batch shards). The
    * re-run/replay primitive for [[append]] — append is deliberately not
    * idempotent (re-appending would duplicate the batch), so a repeated
    * day-boundary run resets first. Published (≤ baseMaxShard) shards are
    * untouched, preserving the byte-stability contract.
    */
  def resetAppended(epochDir: String, baseMaxShard: Long): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
    }
    Option(new java.io.File(epochDir).listFiles).getOrElse(Array.empty)
      .filter { f =>
        f.getName.startsWith("shard_id=") &&
          f.getName.stripPrefix("shard_id=").toLongOption.exists(_ > baseMaxShard)
      }
      .foreach(rm)
  }

  /** Manifest computed FROM THE WRITTEN FILES (not from the plan that
    * produced them — the manifest's job is to attest what's on disk):
    * per shard, sequence/doc/token counts and an order-independent content
    * fingerprint both engines can replay (Knuth multiplicative hash of
    * doc_id, summed — the q57 keep-hash arithmetic, overflow-safe by the
    * same Mersenne-prime bound).
    */
  def manifest(spark: org.apache.spark.sql.SparkSession, epochDir: String): DataFrame =
    manifestRows(spark.read.parquet(epochDir)).orderBy("shard_id")

  private def manifestRows(rows: DataFrame): DataFrame =
    rows
      // shard_id comes back as a PARTITION column, so its type is whatever
      // partition-column inference picks (IntegerType by default) — pin it
      // to long explicitly like every other oracle-checked column instead
      // of depending on spark.sql.sources.partitionColumnTypeInference
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(
        countDistinct(col("source"), col("pack_id")).as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ", -1))).cast("long").as("n_tokens"),
        sum(pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
          lit(1000000007L))).cast("long").as("content_hash"))

  /** SHARD INTEGRITY AUDIT — the check a training run makes before it
    * trusts a published epoch: recompute the manifest FROM THE FILES and
    * reconcile it against the stored manifest the export published. Every
    * discrepancy class a file store exhibits gets a status:
    *   - `missing`: the manifest promises a shard no file backs (partial
    *     delete, failed copy);
    *   - `orphan`: a `shard_id=` directory the manifest never recorded
    *     (aborted writer leftovers — exactly what a trainer must not
    *     read);
    *   - `corrupt`: both exist but any attested quantity (seq/doc/token
    *     counts, content fingerprint) disagrees — bit-rot or an overwrite;
    *   - `ok`: all four quantities agree.
    * Cost: one pruned read of the epoch dir (the same scan [[manifest]]
    * does) + a full-outer join against a kilobytes-sized manifest — the
    * shard axis is tiny relative to the rows, so the reconcile is free
    * next to the recount. At 100 TB the recount is the honest price of an
    * integrity attestation (checksums must read the bytes); partition
    * pruning lets a suspicious-range audit run over a shard subset with
    * the same reconcile.
    *
    * Reported metrics come from the DISK side when it exists (the audit
    * attests what's on disk), falling back to the stored promise for
    * `missing` rows.
    */
  def audit(
      spark: org.apache.spark.sql.SparkSession,
      epochDir: String,
      stored: DataFrame): DataFrame = {
    val disk = manifestRows(spark.read.parquet(epochDir))
      .select(col("shard_id"), col("n_seqs").as("d_seqs"),
        col("n_docs").as("d_docs"), col("n_tokens").as("d_tokens"),
        col("content_hash").as("d_hash"))
    val want = stored.select(col("shard_id").cast("long").as("shard_id"),
      col("n_seqs").as("s_seqs"), col("n_docs").as("s_docs"),
      col("n_tokens").as("s_tokens"), col("content_hash").as("s_hash"))
    want.join(disk, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        when(col("d_docs").isNull, lit("missing"))
          .when(col("s_docs").isNull, lit("orphan"))
          .when(!(col("d_seqs") <=> col("s_seqs")) ||
            !(col("d_docs") <=> col("s_docs")) ||
            !(col("d_tokens") <=> col("s_tokens")) ||
            !(col("d_hash") <=> col("s_hash")), lit("corrupt"))
          .otherwise(lit("ok")).as("status"),
        coalesce(col("d_seqs"), col("s_seqs")).as("n_seqs"),
        coalesce(col("d_docs"), col("s_docs")).as("n_docs"),
        coalesce(col("d_tokens"), col("s_tokens")).as("n_tokens"),
        coalesce(col("d_hash"), col("s_hash")).as("content_hash"))
      .orderBy("shard_id")
  }

  /** The DAILY manifest: stored manifest rows for the published shards
    * (immutable by [[append]]'s contract — their files are never
    * rewritten, proven byte-stable in ShardExportSpec) unioned with rows
    * computed from ONLY the `shard_id > basePublishedMax` directories.
    * Partition pruning keeps the daily scan O(batch): at 100 TB the full
    * [[manifest]] re-read is the thing a daily pipeline cannot afford,
    * and shard-dir disjointness makes this union EQUAL to it (spec + the
    * q120 oracle both check that equality).
    */
  def manifestIncremental(
      spark: org.apache.spark.sql.SparkSession,
      epochDir: String,
      storedBaseManifest: DataFrame,
      basePublishedMax: Long): DataFrame =
    storedBaseManifest
      .select(col("shard_id").cast("long").as("shard_id"), col("n_seqs"),
        col("n_docs"), col("n_tokens"), col("content_hash"))
      .unionByName(manifestRows(
        spark.read.parquet(epochDir)
          .filter(col("shard_id").cast("long") > basePublishedMax)))
      .orderBy("shard_id")
}
