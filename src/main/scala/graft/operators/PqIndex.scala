package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.functions.{Codebooks, VectorExpressions, Vectors}

/** Product quantization (PQ) — the memory tier BELOW the int8 index
  * ([[IvfIndex.assignQuantized]]) for approximate nearest neighbor at
  * 100 TB, after Jégou, Douze & Schmid, "Product Quantization for Nearest
  * Neighbor Search" (TPAMI 2011) — public method, original implementation.
  *
  * The unit vector is split into `m` contiguous subvectors; each subspace
  * gets its own tiny k-means codebook (`numCodes` centroids, trained on a
  * driver-bounded sample), and a corpus vector is stored as `m` small
  * integer codes. At the registered setting (dim 64, m=16, 16 codes) that
  * is 16 codes of 4 bits — 8 bytes against 256 float bytes, a 32×
  * compression (int8 is 4×). m=16 over 4-dim subspaces rather than m=8
  * over 8-dim is the same payload with measurably lower distortion on a
  * diffuse corpus (finer subspaces — recall@5 0.39 → above the spec bound
  * at the same rerank width). What makes PQ searchable without decoding is
  * ASYMMETRIC DISTANCE COMPUTATION (ADC): per query, precompute the
  * `m × numCodes` table of dot products between each query subvector and
  * each codeword — then a candidate's approximate cosine is `m` table
  * lookups and adds, never a float-vector touch.
  *
  * Spark mapping — everything is codegen surface, no UDFs:
  *   - the codebooks ride as ONE expression argument (m·numCodes·dSub
  *     floats — kilobytes), so a plan analyzes one node per model call;
  *   - [[Model.encode]] is [[graft.functions.PqEncode]], a per-subspace
  *     argmin over `numCodes` l2 distances;
  *   - [[Model.adcTable]] is [[graft.functions.AdcTable]], the per-query
  *     lookup table as an `array<array<double>>` column on the (small,
  *     broadcast) query side;
  *   - [[Model.adcScore]] is an unrolled chain of `m` `element_at` lookups
  *     added left to right.
  *
  * The candidate walk composes with the IVF coarse quantizer exactly as in
  * the paper (IVFADC): probe `nProbe` cells, ADC-score only the codes in
  * those cells, then exactly rerank the per-query shortlist against the
  * float corpus — the same repair step the int8 path (q62) uses, fixing
  * quantization-induced rank inversions near the cut.
  *
  * Scale shape: the corpus-side payload entering the candidate join is
  * (id, bucket, 8 codes) — fixed-width and ~32× lighter than floats; the
  * query side (tables + probe buckets) broadcasts; the only exchanges are
  * the per-query top-k partials and the id-keyed rerank join, both
  * shortlist-sized. That plan runs when the probed partitions of the
  * persisted indexes exceed the broadcast threshold; a batch whose probed
  * partitions fit under it is scored on the driver from one read of each
  * index ([[searchIndexed]]), with no joins, windows or shuffles. Training
  * cost is driver-local Lloyd over a bounded sample — independent of
  * corpus size, like [[IvfIndex.fit]].
  */
object PqIndex {

  /** `codebooks(j)(c)` = codeword `c` of subspace `j` (unit-vector space). */
  final case class Model(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def numCodes: Int = codebooks.head.length
    def dSub: Int = codebooks.head.head.length

    private lazy val book = new Codebooks(codebooks)

    /** PQ codes of `emb`: `array<int>` of length `m`, each in
      * [0, numCodes) — the nearest codeword of each unit subvector, one
      * codegen expression ([[graft.functions.PqEncode]]). Ties break to the
      * lowest code id.
      */
    def encode(emb: Column): Column = VectorExpressions.pqEncode(emb, book)

    /** Per-query ADC table: `array<array<double>>`, entry (j, c) = dot of
      * the query's j-th unit subvector with codeword c
      * ([[graft.functions.AdcTable]]). Built on the query side only — the
      * corpus never evaluates it.
      */
    def adcTable(emb: Column): Column = VectorExpressions.adcTable(emb, book)

    /** Approximate cosine via ADC: Σ_j table(j)(code_j). Equals the dot of
      * the unit query with the RECONSTRUCTED (codeword-concatenated) unit
      * corpus vector — exact in the quantized space.
      * Unrolled over the m (known, fixed) subspaces instead of
      * `aggregate(zip_with(...))`: higher-order functions have no codegen,
      * so the HOF form ran interpreted per CANDIDATE row — the hottest
      * expression of the search. The unrolled chain is plain `element_at`
      * lookups + doubles added in the identical left-to-right order
      * (seeded 0.0, exactly the aggregate's fold), fully
      * whole-stage-codegen'd. Same values bit-for-bit.
      */
    def adcScore(tableCol: Column, codesCol: Column): Column =
      (0 until m).foldLeft(lit(0.0)) { (acc, j) =>
        acc + element_at(
          element_at(tableCol, j + 1), element_at(codesCol, j + 1) + 1)
      }
  }

  /** Train per-subspace codebooks with driver-local Lloyd iterations over a
    * deterministic, bounded sample (md5-ordered prefix — the same
    * never-`rand()` sampling rule as everywhere else in the engine; a refit
    * over unchanged data reproduces the identical model). The collect is
    * capped at `maxSample` rows of `dim` floats regardless of corpus size —
    * codebook quality needs a representative sample, not the corpus.
    */
  def fit(
      corpus: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      m: Int = 16,
      numCodes: Int = 16,
      maxSample: Int = 65536,
      maxIter: Int = 10): Model = {
    val sample: Array[Array[Float]] = corpus
      .select(col(idCol), Vectors.unit(col(embCol)).as("u"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(maxSample)
      .select("u")
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PQ fit needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m subspaces")
    val dSub = dim / m
    Model(Array.tabulate(m) { j =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, j * dSub, (j + 1) * dSub)),
        numCodes, maxIter)
    })
  }

  /** Plain Lloyd on the driver: deterministic init (k points evenly spaced
    * through the hash-shuffled sample), empty clusters keep their previous
    * centroid. The sample is bounded, so this is O(maxSample · k · d ·
    * iters) driver work — milliseconds at the registered settings.
    */
  private def lloyd(pts: Array[Array[Float]], k: Int, maxIter: Int): Array[Array[Float]] = {
    val n = pts.length
    val d = pts.head.length
    var centroids = Array.tabulate(k)(c => pts(((c.toLong * n) / k).toInt).clone())
    var it = 0
    while (it < maxIter) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dd = 0.0
          var i = 0
          while (i < d) { val t = p(i) - centroids(c)(i); dd += t * t; i += 1 }
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (cnts(c) == 0L) centroids(c)
        else Array.tabulate(d)(i => (sums(c)(i) / cnts(c)).toFloat)
      }
      it += 1
    }
    centroids
  }

  /** Corpus side of the IVFADC index: (id, bucket, codes) — what you
    * persist partitioned by `bucket` at scale (8 code bytes + id per row).
    */
  def assign(
      ivf: IvfIndex.Model,
      pq: Model,
      corpus: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    corpus.select(
      col(idCol),
      ivf.bucketOf(col(embCol)).as("bucket"),
      pq.encode(col(embCol)).as("codes"))

  /** APPEND a batch to a persisted [[assign]]-layout code index under the
    * FROZEN models — the PQ tier's entry in the store-lifecycle family
    * (dedup band index, IVF float index, pack/release manifests): new
    * vectors encode to 8-byte code rows and land as new files in their
    * `bucket=` directories only, nothing rewrites. The frozen-model
    * contract is the same as [[graft.operators.IvfIndex.appendToIndex]]'s:
    * codebooks and coarse centroids are the deployed artifact, so the
    * batch's bucket assignment is deterministic — which is also what lets
    * [[graft.operators.IvfIndex.retractFromIndex]] un-absorb the SAME
    * batch from this store verbatim (it re-derives the touched buckets by
    * re-assigning under the frozen coarse model and drops rows by id;
    * its survivor rewrite carries the store's own columns, codes
    * included) and [[graft.operators.IvfIndex.compactIndex]] fold its
    * small files (content-identical rewrite, schema-agnostic). The full
    * cycle is pinned in PqIndexSpec.
    */
  def appendToIndex(
      ivf: IvfIndex.Model,
      pq: Model,
      newVectors: DataFrame,
      path: String,
      embCol: String = "embedding"): Unit =
    graft.ops.StoreSwap.write(assign(ivf, pq, newVectors, embCol), path, append = true,
      partitionBy = Seq("bucket"))

  /** IVFADC over a PERSISTED [[assign]]-layout code index — the shape a
    * 100 TB deployment actually runs (the q56/q62 story at the PQ tier):
    * `codesIndexed` is the code table written once partitioned by
    * `bucket`, `floatIndexed` the float index in the same layout. Same
    * contract as [[search]]: identical results for the same models/probe
    * set (asserted in PqIndexSpec).
    *
    * The query side is collected once — id, embedding, ADC table and the
    * probe array, unexploded, so a local batch costs no job (the plan path
    * broadcasts this side anyway, so the driver already holds it). The
    * distinct probed buckets are pushed as a static `bucket IN (...)`
    * predicate on BOTH scans: candidate generation reads only the probed
    * partitions of an 8-byte-per-vector table, and the exact rerank fetch
    * prunes to the same directories. The pruned scans' estimated size then
    * picks the path against the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the size rule that picks a
    * broadcast join (and [[ConnectedComponents.run]]'s driver path):
    *   - at or under it, each scan is collected in one job and every query
    *   is answered on the driver ([[searchOnDriver]]) — row-identical to
    *   the plan, returned as a local frame of the plan's schema; the plan
    *   is never built;
    *   - above it (or when the threshold is -1), the distributed plan:
    *   the [[adcRank]] probe join and top-k window over the pruned
    *   codes, then [[IvfIndex.rerank]] over the pruned floats.
    */
  def searchIndexed(
      ivf: IvfIndex.Model,
      pq: Model,
      queries: DataFrame,
      codesIndexed: DataFrame,
      floatIndexed: DataFrame,
      k: Int,
      nProbe: Int = 4,
      rerankFactor: Int = 8,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(col(idCol), col(embCol), pq.adcTable(col(embCol)),
      ivf.probeBuckets(col(embCol), nProbe))
    val batch = q.collect()
    // driver-bounded: ≤ queries × nProbe distinct buckets (and ≤ ivf k)
    val probed = batch.toSeq.flatMap(probes).distinct
    val codes = IvfIndex.inBuckets(codesIndexed, probed).select(col(idCol), col("bucket"), col("codes"))
    val floats = IvfIndex.inBuckets(floatIndexed, probed).select(col(idCol), col(embCol))
    val scanBytes = codes.queryExecution.optimizedPlan.stats.sizeInBytes +
      floats.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = shims.broadcastThreshold(queries.sparkSession)
    if (threshold >= 0 && scanBytes <= threshold) {
      // the plan's output schema, derived without building the plan (its
      // joins and windows cost more to analyze than this path takes to run)
      val schema = StructType(Seq(
        q.schema(0).copy(name = "query_id"),
        codes.schema(0).copy(name = "neighbor_id"),
        StructField("rank", IntegerType, nullable = false),
        StructField("sim", DoubleType, nullable = q.schema(1).nullable || floats.schema(1).nullable)))
      searchOnDriver(batch, codes, floats, k, k * rerankFactor, schema)
    } else
      IvfIndex.rerank(adcRank(ivf, pq, queries, codes, k * rerankFactor, nProbe, embCol, idCol),
        queries, floats, k, embCol, idCol)
  }

  /** The probe buckets of a collected [[searchIndexed]] query row. */
  private def probes(query: Row): Seq[Int] = Option(query.getSeq[Int](3)).getOrElse(Nil)

  /** [[searchIndexed]]'s small path, in plain Scala over `batch` (the
    * collected (id, embedding, ADC table, probe array) query rows) and the
    * collected pruned scans `codes` (id, bucket, codes) and `floats`
    * (id, embedding). It replays the plan step for step, so the rows are
    * identical:
    *   1. a query's candidates are the code rows in its own probe buckets,
    *      minus its own id and null ids; a neighbor met twice (several
    *      probed buckets, several query rows of one id) is scored once;
    *   2. [[Model.adcScore]]'s fold: seeded 0.0, subspaces left to right;
    *   3. the top `shortlist` by [[TopK.perQuery]]'s order — sim
    *      descending, nulls last, NaN and ±0.0 as Spark orders them, then
    *      neighbor id ascending in the id type's SQL order;
    *   4. the exact cosine, in [[graft.functions.CosineSimilarity]]'s
    *      accumulation order, against every float row of the id in the
    *      batch's probe set and every query row of the query's id (the
    *      rerank join's fan-out);
    *   5. the top `k` ranked 1..k.
    * A null query id, embedding, code or table entry gives what its
    * Spark expression gives: no candidates, or a null sim.
    */
  private def searchOnDriver(
      batch: Array[Row],
      codes: DataFrame,
      floats: DataFrame,
      k: Int,
      shortlist: Int,
      schema: StructType): DataFrame = {
    def seq(r: Row, i: Int): IndexedSeq[Any] =
      if (r.isNullAt(i)) null else r.getSeq[Any](i).toIndexedSeq
    val byBucket = codes.collect().groupBy(_.getInt(1))
    val vectors = floats.collect().toSeq.groupBy(_.get(0))
      .map { case (id, rs) => id -> rs.map(seq(_, 1)) }
    val idOrder = {
      val dt = codes.schema.head.dataType
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
      Ordering.by(toCatalyst)(TypeUtils.getInterpretedOrdering(dt))
    }
    val rankOrder: Ordering[(Any, Option[Double])] = (x, y) => {
      val bySim = (x._2, y._2) match {
        case (Some(a), Some(b)) => SQLOrderingUtil.compareDoubles(b, a)
        case (Some(_), None) => -1
        case (None, Some(_)) => 1
        case (None, None) => 0
      }
      if (bySim != 0) bySim else idOrder.compare(x._1, y._1)
    }
    def num(v: Any): Option[Double] = v match {
      case x: Number => Some(x.doubleValue)
      case _ => None
    }
    def adc(tbl: IndexedSeq[Any], code: IndexedSeq[Any]): Option[Double] =
      tbl.indices.foldLeft(Option(0.0)) { (acc, j) =>
        for {
          a <- acc
          c <- if (code != null && j < code.length) num(code(j)) else None
          row = tbl(j).asInstanceOf[scala.collection.Seq[Any]]
          t <- if (c >= 0 && c < row.length) num(row(c.toInt)) else None
        } yield a + t
      }
    def cosine(a: IndexedSeq[Any], b: IndexedSeq[Any]): Option[Double] =
      if (a == null || b == null) None
      else {
        var dot, na, nb = 0.0
        a.indices.take(b.length).foreach { i =>
          val x = num(a(i)).getOrElse(0.0)
          val y = num(b(i)).getOrElse(0.0)
          dot += x * y; na += x * x; nb += y * y
        }
        Some(dot / (math.sqrt(na) * math.sqrt(nb)))
      }
    val byQuery = batch.toSeq.filterNot(_.isNullAt(0)).groupBy(_.get(0)).toSeq
    val rows = byQuery.flatMap { case (qid, qs) =>
      val scored = mutable.LinkedHashMap.empty[Any, Option[Double]]
      for {
        q <- qs
        tbl = seq(q, 2)
        b <- probes(q)
        c <- byBucket.getOrElse(b, Array.empty[Row])
        nid = c.get(0)
        if nid != null && nid != qid && !scored.contains(nid)
      } scored(nid) = adc(tbl, seq(c, 2))
      val reranked = for {
        (nid, _) <- scored.toSeq.sorted(rankOrder).take(shortlist)
        q <- qs
        v <- vectors.getOrElse(nid, Nil)
      } yield nid -> cosine(seq(q, 1), v)
      reranked.sorted(rankOrder).take(k).zipWithIndex.map { case ((nid, sim), i) =>
        Row(qid, nid, i + 1, sim.orNull)
      }
    }
    codes.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** The ADC-scored per-query SHORTLIST of [[searchIndexed]] (probed-cell
    * code scan + ADC scoring): (query_id, neighbor_id), ≤ k·rerankFactor
    * rows per query. Exposed so the dump-readback oracle can persist
    * exactly the rows the exact float rerank consumes — the ADC kernel
    * (codebooks, lookup tables) stays spec-closed, everything downstream
    * of these ids is ANSI-replayable.
    */
  def adcShortlistIndexed(
      ivf: IvfIndex.Model,
      pq: Model,
      queries: DataFrame,
      codesIndexed: DataFrame,
      k: Int,
      nProbe: Int = 4,
      rerankFactor: Int = 8,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    adcRank(ivf, pq, queries,
      IvfIndex.inBuckets(codesIndexed, IvfIndex.probeSet(ivf, queries, nProbe, embCol, idCol)),
      k * rerankFactor, nProbe, embCol, idCol).select("query_id", "neighbor_id")

  /** The top `n` per query by ADC score of the probed `codes` rows (id,
    * bucket, codes; pruned or not): the probe carries the ADC table as `q`.
    */
  private def adcRank(ivf: IvfIndex.Model, pq: Model, queries: DataFrame, codes: DataFrame,
      n: Int, nProbe: Int, embCol: String, idCol: String): DataFrame =
    IvfIndex.rank(IvfIndex.probe(ivf, queries, codes, nProbe, pq.adcTable(col(embCol)),
      col("codes"), embCol, idCol), pq.adcScore(col("q"), col("c")), n)

  /** IVFADC top-`k`: probe `nProbe` IVF cells per query, ADC-score their
    * codes, take the per-query `k · rerankFactor` shortlist, then rerank
    * EXACTLY against the float corpus. Output (query_id, neighbor_id,
    * rank, sim) — the shared ANN shape; recall < 1 by construction.
    */
  def search(
      ivf: IvfIndex.Model,
      pq: Model,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nProbe: Int = 4,
      rerankFactor: Int = 8,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    IvfIndex.rerank(adcRank(ivf, pq, queries, assign(ivf, pq, corpus, embCol, idCol),
      k * rerankFactor, nProbe, embCol, idCol), queries, corpus, k, embCol, idCol)
}
