package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{Codebooks, VectorExpressions, Vectors}
import graft.ops.StoreSwap

/** IVF (inverted-file) approximate nearest neighbor — the centroid-
  * quantized scale path for similarity search, alongside the sign-bit LSH
  * variant ([[graft.functions.Vectors.signBucket]]).
  *
  * Shape for 100 TB:
  *   - `fit` trains k-means on a driver-bounded SAMPLE of the corpus
  *     (centroids are k×dim floats — kilobytes — regardless of corpus size);
  *   - bucket assignment is one codegen expression
  *     ([[graft.functions.NearestCentroids]], carrying the centroids as one
  *     value) — no UDF, no shuffle; the corpus is written
  *     partitioned/bucketed by `bucket` once and probed forever;
  *   - `search` probes the `nProbe` nearest centroids per query, so the
  *     candidate join is an equi-join on bucket touching nProbe/k of the
  *     corpus instead of all of it.
  *
  * Every IVF-family search, shortlist and candidate dump (float, int8,
  * [[PqIndex]]'s ADC codes; in-memory and persisted) composes three steps:
  * [[probe]] (the bucket join), [[rank]] (score, pair dedup, top-k) and
  * [[rerank]] (exact float rerank). A persisted form prunes its scans to
  * the batch's [[probeSet]], collected once; the in-memory forms prune
  * nothing.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Float]]) {

    // search ranks by cosine, so bucketing must be direction-based: compare
    // UNIT query/corpus vectors against UNIT centroids (L2 on the unit
    // sphere is monotone in cosine — spherical k-means assignment)
    private lazy val book = new Codebooks(Array(centroids))

    /** Nearest-centroid id (0-based); ties break to the lower id. */
    def bucketOf(emb: Column): Column = probeBuckets(emb, 1).getItem(0)

    /** The `nProbe` nearest centroid ids, nearest first. */
    def probeBuckets(emb: Column, nProbe: Int): Column =
      VectorExpressions.nearestCentroids(emb, book, nProbe)
  }

  /** The distinct `bucket` values of `rows`, collected to the driver.
    * Driver-bounded, since a model has at most k buckets.
    */
  private[graft] def bucketsOf(rows: DataFrame): Seq[Int] =
    rows.select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq

  /** `index` restricted to `buckets`: on a `bucket`-partitioned Parquet
    * read, a static partition filter (IvfIndexSpec pins `selectedPartitions`).
    */
  private[graft] def inBuckets(index: DataFrame, buckets: Seq[Int]): DataFrame =
    index.filter(col("bucket").isin(buckets: _*))

  /** Each query row once per probed bucket: (query_id, q, bucket). */
  private def probeRows(model: Model, queries: DataFrame, nProbe: Int, query: Column,
      embCol: String, idCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), query.as("q"),
      explode(model.probeBuckets(col(embCol), nProbe)).as("bucket"))

  /** The batch's distinct probe buckets, collected once (≤ queries × nProbe
    * and ≤ k). The query side is small by contract, so evaluating its argmin
    * here and again in [[probe]]'s broadcast beats checkpointing it, which
    * would pin blocks past the call and run a job the caller may not need.
    */
  private[graft] def probeSet(
      model: Model, queries: DataFrame, nProbe: Int, embCol: String, idCol: String): Seq[Int] =
    bucketsOf(probeRows(model, queries, nProbe, col(embCol), embCol, idCol))

  /** The IVF probe: the broadcast query side, exploded to its `nProbe`
    * nearest buckets, equi-joined to `index` (`idCol`, `bucket`, ...) on
    * `bucket`, self-matches dropped. Output (query_id, q, neighbor_id, c),
    * `q`/`c` being the `query`/`neighbor` payloads; a pair appears once per
    * bucket it meets through. Unpruned: persisted callers prune `index`.
    */
  private[graft] def probe(model: Model, queries: DataFrame, index: DataFrame, nProbe: Int,
      query: Column, neighbor: Column, embCol: String, idCol: String): DataFrame =
    index.select(col(idCol).as("neighbor_id"), neighbor.as("c"), col("bucket"))
      .join(broadcast(probeRows(model, queries, nProbe, query, embCol, idCol)), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "q", "neighbor_id", "c")

  /** Per-query top `k` of [[probe]]'s pairs by `score` (over `q` and `c`),
    * each pair scored once however many buckets it met through.
    */
  private[graft] def rank(probed: DataFrame, score: Column, k: Int): DataFrame =
    TopK.perQuery(
      probed.select(col("query_id"), col("neighbor_id"), score.as("sim"))
        .dropDuplicates("query_id", "neighbor_id"),
      k)

  /** Exact float rerank of a (query_id, neighbor_id) shortlist: the cosine
    * of the broadcast query and the neighbor's `floats` row, per-query top
    * `k` — it repairs a quantized shortlist's rank inversions near the cut.
    */
  private[graft] def rerank(shortlist: DataFrame, queries: DataFrame, floats: DataFrame, k: Int,
      embCol: String, idCol: String): DataFrame =
    TopK.perQuery(
      shortlist.select("query_id", "neighbor_id")
        .join(floats.select(col(idCol).as("neighbor_id"), col(embCol).as("cv")), Seq("neighbor_id"))
        .join(broadcast(queries.select(col(idCol).as("query_id"), col(embCol).as("qv"))),
          Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosine(col("qv"), col("cv")).as("sim")),
      k)

  private def probeCosine: Column = Vectors.cosine(col("q"), col("c"))

  /** Train the coarse quantizer on a sample of `corpus.embCol`.
    *
    * The sample cap bounds driver/ML memory independent of corpus size; at
    * 100 TB pass a fraction that yields ~100k-1M rows — k-means quality
    * needs only a representative sample, not the corpus.
    */
  def fit(
      corpus: DataFrame,
      embCol: String = "embedding",
      k: Int = 16,
      sampleFraction: Double = 1.0,
      seed: Long = 42L,
      maxIter: Int = 20): Model = {
    val sample =
      (if (sampleFraction >= 1.0) corpus else corpus.sample(sampleFraction, seed))
        .select(array_to_vector(
          Vectors.unit(col(embCol)).cast("array<double>")).as("features"))
    val km = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter).fit(sample)
    // re-normalize: a mean of unit vectors is inside the sphere, and unequal
    // centroid norms would skew the argmin-L2 assignment away from cosine
    Model(km.clusterCenters.map { c =>
      val a = c.toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      (if (n > 0) a.map(_ / n) else a).map(_.toFloat)
    })
  }

  /** Corpus side of the index: rows tagged with their bucket. At scale this
    * is what you persist, partitioned by `bucket`.
    */
  def assign(model: Model, corpus: DataFrame, embCol: String = "embedding"): DataFrame =
    corpus.withColumn("bucket", model.bucketOf(col(embCol)))

  /** Top-`k` cosine neighbors per query among the `nProbe` probed buckets.
    * Output: (query_id, neighbor_id, rank, sim) — same shape as the
    * brute-force baseline, recall < 1 by construction.
    */
  def search(
      model: Model,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nProbe: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    rank(probe(model, queries, assign(model, corpus, embCol), nProbe,
      col(embCol), col(embCol), embCol, idCol), probeCosine, k)

  /** The probed-bucket candidate PAIR SET of [[search]]: (query_id,
    * neighbor_id), deduped across probe buckets. This is what the ANN
    * dump-readback oracles persist — exact-cosine ranking over these ids
    * is value-identical to [[search]] (same kernel, same
    * (sim desc, neighbor_id) tie-break), so once the pairs are on disk
    * BOTH engines can replay the whole scoring tail.
    */
  def candidates(
      model: Model,
      queries: DataFrame,
      corpus: DataFrame,
      nProbe: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    pairsOf(probe(model, queries, assign(model, corpus, embCol), nProbe,
      col(embCol), col(embCol), embCol, idCol))

  /** [[candidates]] over an already-assigned (persisted) index: the
    * distinct probed buckets prune the scan exactly as in
    * [[searchIndexed]], so the dumped pair set is the one the pruned
    * search actually considered.
    */
  def candidatesIndexed(
      model: Model,
      queries: DataFrame,
      indexed: DataFrame,
      nProbe: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    pairsOf(probe(model, queries, inBuckets(indexed, probeSet(model, queries, nProbe, embCol, idCol)),
      nProbe, col(embCol), col(embCol), embCol, idCol))

  private def pairsOf(probed: DataFrame): DataFrame =
    probed.select("query_id", "neighbor_id").dropDuplicates("query_id", "neighbor_id")

  /** Search over an ALREADY-ASSIGNED corpus: `indexed` carries `bucket` —
    * in the intended layout, [[assign]] written once partitioned by
    * `bucket` ([[graft.ops.Bucketing.writePartitioned]]) and read back.
    * The batch's [[probeSet]] becomes a static `bucket IN (...)` predicate,
    * so the scan opens only the probed partition directories. Same rows
    * as [[search]] for the same model and probe set.
    */
  def searchIndexed(
      model: Model,
      queries: DataFrame,
      indexed: DataFrame,
      k: Int,
      nProbe: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    rank(probe(model, queries, inBuckets(indexed, probeSet(model, queries, nProbe, embCol, idCol)),
      nProbe, col(embCol), col(embCol), embCol, idCol), probeCosine, k)

  /** Absorb a batch of NEW vectors into a persisted [[assign]]-layout
    * index — the embedding-side analogue of the dedup band-index append
    * (daily vector batches join the ANN index without a rebuild). The
    * batch is assigned with the FIXED model (the caller's index path is
    * fingerprinted by the centroids, so an incompatible model cannot
    * target it) and its rows land in their existing `bucket=` directories
    * via parquet append — O(batch), no old partition rewritten, and every
    * later [[searchIndexed]] probe sees the grown buckets automatically.
    * The centroids are NOT refit: bucket geometry stays frozen, which is
    * exactly the production contract (a drifting quantizer would silently
    * re-bucket the whole corpus); refit + full rebuild is a deliberate
    * offline operation.
    */
  def appendToIndex(
      model: Model,
      newVectors: DataFrame,
      path: String,
      embCol: String = "embedding"): Unit =
    StoreSwap.write(assign(model, newVectors, embCol), path, append = true,
      partitionBy = Seq("bucket"))

  /** RETRACT previously-appended vectors from a persisted index — the
    * vector store's entry in the un-absorb family (dedup q149, window
    * q150, histogram q152), and the most partition-friendly of them:
    * re-assigning the batch under the FROZEN model names exactly the
    * `bucket=` directories its rows landed in ([[appendToIndex]] used
    * the same assignment — the model is deterministic and the path is
    * fingerprinted by the centroids, so the buckets cannot have moved),
    * so only those directories are read (partition-pruned scan) and only
    * those rewrite; untouched buckets are never opened. The touched-
    * bucket list is a ≤k driver collect (the nProbe-collect bound), the
    * batch ids broadcast, and the rewrite is a per-bucket write-aside →
    * swap — a probe concurrent with the swap sees each bucket either
    * whole-old or whole-new, never half-retracted. A bucket whose every
    * row retracts disappears (partitionBy writes no empty directory),
    * which is exactly what [[searchIndexed]]'s `bucket IN` pruning
    * expects of an absent bucket. LIFO contract as everywhere in the
    * family: retract cancels one prior append of the same batch.
    */
  def retractFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      model: Model,
      batch: DataFrame,
      path: String,
      embCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    // CRASH RECOVERY, before anything reads the index: a prior retract may
    // have died between setting a bucket aside (dst -> .retract.old) and
    // publishing its survivor rewrite (src -> dst), leaving the ONLY
    // complete copy of that bucket under the aside dir. Without this
    // restore, the replay below would read `path` with the bucket absent,
    // Overwrite `.retract` (destroying the survivor copy) and reset the
    // aside dir (destroying the set-aside copy) — permanent loss of the
    // bucket's surviving rows. A bucket present at BOTH dst and aside
    // means the prior crash happened after its src->dst publish: dst is
    // the newer (already-retracted) copy, keep it and drop the aside.
    val asidePath = new org.apache.hadoop.fs.Path(path + ".retract.old")
    if (fs.exists(asidePath)) {
      for (st <- fs.listStatus(asidePath)
           if st.getPath.getName.startsWith("bucket=")) {
        val dst = new org.apache.hadoop.fs.Path(path + "/" + st.getPath.getName)
        if (!fs.exists(dst) && !fs.rename(st.getPath, dst))
          throw new java.io.IOException(
            s"retractFromIndex: crash recovery could not restore ${st.getPath} to $dst")
      }
      fs.delete(asidePath, true)
    }
    val assigned = assign(model, batch, embCol)
      .select(col(idCol), col("bucket"))
    val touched = bucketsOf(assigned)
    if (touched.isEmpty) return
    val idx = inBuckets(spark.read.parquet(path), touched)
    val cols = idx.columns.toSeq
    try {
      StoreSwap.write(
        idx.join(broadcast(assigned.select(col(idCol))), Seq(idCol), "left_anti")
          .select(cols.map(col): _*),
        path + ".retract", partitionBy = Seq("bucket"))
    } catch {
      case e: Throwable =>
        // no live bucket has been touched yet — shed the staging dir so a
        // failed survivor-write leaves the index byte-identical
        fs.delete(new org.apache.hadoop.fs.Path(path + ".retract"), true)
        throw e
    }
    // Per-bucket rename-aside (the [[graft.ops.StoreSwap]] ordering; the
    // aside dir lives OUTSIDE the index, because a `bucket=N.old` inside
    // it would corrupt partition discovery): each touched bucket is
    // whole-old or whole-new at every instant, and a crash mid-loop never
    // deletes the only copy of a bucket — a complete version always sits
    // at dst, aside, or src, so recovery is a replay of the retract: the
    // entry preamble above first restores any bucket stranded at the
    // aside dir (the crash window between the two renames), after which
    // the left-anti rewrite is idempotent. Across buckets a concurrent probe can
    // still observe a retracted/unretracted MIX while the loop runs: the
    // atomicity contract is PER-BUCKET, not whole-index.
    val aside = new org.apache.hadoop.fs.Path(path + ".retract.old")
    fs.delete(aside, true)
    fs.mkdirs(aside)
    for (b <- touched) {
      val dst = new org.apache.hadoop.fs.Path(s"$path/bucket=$b")
      val src = new org.apache.hadoop.fs.Path(s"$path.retract/bucket=$b")
      val old = new org.apache.hadoop.fs.Path(s"$path.retract.old/bucket=$b")
      if (fs.exists(dst) && !fs.rename(dst, old))
        throw new java.io.IOException(s"retractFromIndex: could not set aside $dst")
      // a fully-retracted bucket has no survivors and no src dir — its
      // absence at dst is the correct result ([[searchIndexed]]'s
      // `bucket IN` pruning expects exactly that of an empty bucket)
      if (fs.exists(src) && !fs.rename(src, dst))
        throw new java.io.IOException(s"retractFromIndex: could not swap $dst")
    }
    fs.delete(new org.apache.hadoop.fs.Path(path + ".retract"), true)
    fs.delete(aside, true)
    ()
  }

  /** INDEX COMPACTION — the vector-side twin of the band-index rewrite
    * ([[graft.queries.DedupStore.compactBandIndex]]): daily [[appendToIndex]]
    * calls add one small file set per batch to each touched `bucket=`
    * directory, so after N days a probe opens N files per probed bucket.
    * Compaction rewrites the index CONTENT-IDENTICALLY into few large
    * (bucket, vec_id)-sorted runs sized from the source's plan-time
    * estimate. Writes to `dstPath`, source untouched (write-new →
    * repoint → retire — probes never see a half-written index); probe
    * identity across the swap is pinned in IvfIndexSpec. The bucket
    * partitioning — the thing probes prune on — is preserved exactly.
    *
    * "Content-identical" is up to REPLAYED-APPEND duplicates, which
    * compaction SHEDS: an at-least-once absorb replay (the
    * [[graft.streaming.VectorIngestStream]] derived-artifact ordering)
    * can re-append a (bucket, vec_id) row byte-identically — the frozen
    * model assigns the same vector to the same bucket with the same
    * payload, so keeping one copy per (bucket, vec_id) is exact, and
    * probe results were already duplicate-insensitive (every shortlist
    * dedups on the pair key). This is where the stream's "duplicates
    * cost storage only" contract is discharged.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val idx = spark.read.parquet(srcPath).dropDuplicates("bucket", "vec_id")
    StoreSwap.write(
      idx.repartition(graft.ops.Compact.filesFor(idx, targetFileBytes), col("bucket"))
        .sortWithinPartitions("bucket", "vec_id"),
      dstPath, partitionBy = Seq("bucket"))
  }

  /** Int8-QUANTIZED corpus side of the index: (id, q8, bucket), where
    * `q8 = round(127 · unit(embedding))` as `array<tinyint>` — 4× smaller
    * than the float corpus, which at 100 TB is the difference between an
    * index you can afford to probe and one you can't. Quantizing the UNIT
    * vector means no component saturates the clamp and cosine ranking is
    * preserved (cosine is scale-invariant, so scoring against `q8` directly
    * ≈ scoring against the corpus vector, to quantization error).
    */
  def assignQuantized(
      model: Model,
      corpus: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    corpus.select(
      col(idCol),
      graft.functions.Vectors.quantizeInt8(Vectors.unit(col(embCol)))
        .cast("array<tinyint>").as("q8"),
      model.bucketOf(col(embCol)).as("bucket"))

  /** ANN over the PERSISTED QUANTIZED index, with exact float rerank —
    * the full IVF-quantization story at scale:
    *   1. candidate generation scans only the probed `bucket=` partitions
    *      of the int8 index (4× fewer bytes than the float index);
    *   2. candidates are scored with the ASYMMETRIC kernel — float query ×
    *      int8 corpus in one codegen cosine loop (no dequantized array);
    *   3. the per-query top `k · rerankFactor` shortlist is re-scored
    *      EXACTLY against the float corpus ([[rerank]]).
    * Pass the float index (with its `bucket` column) as `corpus` and the
    * rerank fetch prunes to the same probe set, collected once for both
    * scans; any (id, embedding) frame works at reduced pruning.
    */
  def searchIndexedQuantized(
      model: Model,
      queries: DataFrame,
      indexedQ: DataFrame,
      corpus: DataFrame,
      k: Int,
      nProbe: Int = 4,
      rerankFactor: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val probed = probeSet(model, queries, nProbe, embCol, idCol)
    val floats = if (corpus.columns.contains("bucket")) inBuckets(corpus, probed) else corpus
    rerank(int8Rank(model, queries, inBuckets(indexedQ, probed), k, rerankFactor, nProbe,
      embCol, idCol), queries, floats, k, embCol, idCol)
  }

  /** The int8-scored per-query SHORTLIST of [[searchIndexedQuantized]]
    * (its candidate-generation + asymmetric-scoring stages): (query_id,
    * neighbor_id), ≤ k·rerankFactor rows per query. Exposed so the
    * dump-readback oracle can persist exactly the rows the exact float
    * rerank consumes — everything downstream of these ids is
    * ANSI-replayable; the asymmetric kernel stays spec-closed.
    */
  def quantizedShortlist(
      model: Model,
      queries: DataFrame,
      indexedQ: DataFrame,
      k: Int,
      nProbe: Int = 4,
      rerankFactor: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    int8Rank(model, queries, inBuckets(indexedQ, probeSet(model, queries, nProbe, embCol, idCol)),
      k, rerankFactor, nProbe, embCol, idCol).select("query_id", "neighbor_id")

  /** The top `k · rerankFactor` per query of the int8 rows in `indexedQ`
    * (pruned or not): the asymmetric kernel takes the tinyint `q8` as `c`.
    */
  private def int8Rank(model: Model, queries: DataFrame, indexedQ: DataFrame, k: Int,
      rerankFactor: Int, nProbe: Int, embCol: String, idCol: String): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    rank(probe(model, queries, indexedQ, nProbe, col(embCol), col("q8"), embCol, idCol),
      probeCosine, k * rerankFactor)
  }
}
