package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{shims, SparkActivity}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{IvfIndex, PqIndex}
import graft.queries.{Similarity, Tables}

/** IVFADC product quantization (q117) against the testdata embeddings.
  * `searchIndexed` has two paths: batches whose probed index fits under
  * the broadcast threshold are answered on the driver, larger ones by the
  * Spark plan, forced here by a threshold of -1 on a cloned session.
  */
class PqIndexSpec extends SparkSpec {

  private lazy val corpus = Tables(spark, "/root/testdata/sf0.001", "embeddings")

  private lazy val planSession: SparkSession = {
    val s = shims.cloneSession(spark)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
  }

  test("codes are m-wide and in [0, numCodes); refit is deterministic") {
    val pq = PqIndex.fit(corpus, m = 16, numCodes = 16)
    assert(pq.m == 16 && pq.numCodes == 16 && pq.dSub == 4)
    val codes = corpus.select(pq.encode(col("embedding")).as("codes"))
      .select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c"), count(lit(1))).head
    assert(codes.getInt(0) >= 0 && codes.getInt(1) < 16,
      s"codes out of range: ${codes.getInt(0)}..${codes.getInt(1)}")
    assert(codes.getLong(2) % 16 == 0, "every vector must emit exactly m codes")
    // fit over unchanged data reproduces the identical codebooks (the
    // never-rand() rule: index rebuilds must be replayable)
    val again = PqIndex.fit(corpus, m = 16, numCodes = 16)
    def flat(cb: Array[Array[Array[Float]]]): Array[Float] =
      cb.flatMap(_.flatMap(_.toSeq))
    assert(flat(pq.codebooks).sameElements(flat(again.codebooks)),
      "refit must be bit-identical")
  }

  test("ADC score equals the dot product with the reconstructed unit vector") {
    val pq = PqIndex.fit(corpus, m = 16, numCodes = 16)
    val q: Seq[Seq[Double]] = corpus.filter(col("vec_id") === 0)
      .select(pq.adcTable(col("embedding")).as("tbl")).head
      .getAs[scala.collection.Seq[scala.collection.Seq[Double]]](0)
      .map(_.toList).toList
    val rows = corpus.filter(col("vec_id") < 50)
      .select(col("vec_id"), pq.encode(col("embedding")).as("codes"),
        graft.functions.Vectors.unit(col("embedding")).as("u"),
        pq.adcScore(typedlit(q), pq.encode(col("embedding"))).as("adc"))
      .collect()
    val qUnit = corpus.filter(col("vec_id") === 0)
      .select(graft.functions.Vectors.unit(col("embedding"))).head.getSeq[Float](0).toArray
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      // reconstruct: concatenate the chosen codewords
      val recon = codes.zipWithIndex.flatMap { case (c, j) => pq.codebooks(j)(c) }.toArray
      val want = qUnit.zip(recon).map { case (a, b) => a.toDouble * b.toDouble }.sum
      assert(math.abs(r.getDouble(3) - want) < 1e-6,
        s"vec ${r.getLong(0)}: adc ${r.getDouble(3)} != reconstructed dot $want")
    }
  }

  test("IVFADC with exact rerank recalls most of the brute-force top-5") {
    val ivf = IvfIndex.fit(corpus, k = 10)
    val pq = PqIndex.fit(corpus, m = 16, numCodes = 16)
    val queries = corpus.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = PqIndex.search(ivf, pq, queries, corpus, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the IVF probe set bounds recall from above; PQ + the 8x rerank
    // shortlist must not lose more than a little on top of that bound —
    // assert RELATIVE to the float IVF path so the pin survives testdata
    // drift in the probe-set ceiling
    val floatIvf = IvfIndex.search(ivf, queries, corpus, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    val ceiling = (exact & floatIvf).size.toDouble / exact.size
    assert(recall > 0.6, s"IVFADC recall@5 = $recall with 4/10 cells probed")
    assert(recall >= ceiling - 0.15,
      s"PQ shortlist loses too much vs float IVF: $recall vs ceiling $ceiling")
  }

  test("persisted code index: searchIndexed equals in-memory search and prunes the scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val ivf = IvfIndex.fit(corpus, k = 10)
    val pq = PqIndex.fit(corpus, m = 16, numCodes = 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_spec").toString
    val codePath = s"$root/graft_pq_spec_index"
    val floatPath = s"$root/graft_pq_spec_findex"
    rm(new java.io.File(codePath))
    rm(new java.io.File(floatPath))
    graft.ops.Bucketing.writePartitioned(
      PqIndex.assign(ivf, pq, corpus), codePath, Seq("bucket"))
    graft.ops.Bucketing.writePartitioned(
      IvfIndex.assign(ivf, corpus), floatPath, Seq("bucket"))
    val nProbe = 2 // fewer than the 10 cells, so pruning is exercised
    def searchIn(s: SparkSession, queries: DataFrame) = searchOver(s.read.parquet(codePath),
      s.read.parquet(floatPath), queries)
    def searchOver(codes: DataFrame, floats: DataFrame, queries: DataFrame) =
      PqIndex.searchIndexed(ivf, pq, queries, codes, floats, k = 5, nProbe = nProbe)
    val queries = corpus.filter(col("vec_id") < 10)
    // the test index fits under the default threshold: the driver path
    val onDriver = searchIn(spark, queries)
    val indexed = searchIn(planSession, Tables(planSession, Bench.WarmupDir, "embeddings")
      .filter(col("vec_id") < 10))
    val inMem = PqIndex.search(ivf, pq, queries, corpus, k = 5, nProbe = nProbe)
      .orderBy("query_id", "rank").collect()
    Seq("driver" -> onDriver, "plan" -> indexed).foreach { case (path, out) =>
      val rows = out.orderBy("query_id", "rank").collect()
      assert(rows.map(_.toString).toSeq == inMem.map(_.toString).toSeq,
        s"persisted-index search ($path path) must equal the in-memory path")
    }
    assert(onDriver.schema == indexed.schema, "both paths must return one schema")
    assert(onDriver.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"expected a local result: ${onDriver.queryExecution.analyzed.nodeName}")
    // the code-table scan touches only the probed bucket directories
    val probed = queries
      .select(explode(ivf.probeBuckets(col("embedding"), nProbe)).as("b"))
      .distinct().count()
    val bucketDirs = new java.io.File(codePath).listFiles
      .count(_.getName.startsWith("bucket="))
    assert(probed < bucketDirs, "test must actually exercise pruning")
    val codeScan = scans(indexed.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft_pq_spec_index")))
    assert(codeScan.nonEmpty, "expected a FileSourceScan over the code index")
    assert(codeScan.head.selectedPartitions.partitionCount == probed,
      s"expected $probed pruned buckets of $bucketDirs, " +
        s"got ${codeScan.head.selectedPartitions.partitionCount}")
    // the driver path's two collects read exactly the probed directories'
    // rows (a local query batch, so the query side reads nothing)
    val local = spark.createDataFrame(queries.collect().toSeq.asJava, queries.schema)
    val probedDirs = local.select(explode(ivf.probeBuckets(col("embedding"), nProbe)))
      .distinct().collect().map(r => s"bucket=${r.getInt(0)}")
    val dirRows = Seq(codePath, floatPath).map { root =>
      probedDirs.map(d => spark.read.parquet(s"$root/$d").count()).sum
    }.sum
    val (codes, floats) = (spark.read.parquet(codePath), spark.read.parquet(floatPath))
    val (_, ran) = SparkActivity.during(spark)(searchOver(codes, floats, local))
    assert(ran.jobs == 2, s"one job per index collect, got ${ran.jobs}")
    assert(ran.recordsRead == dirRows,
      s"driver path read ${ran.recordsRead} rows, probed directories hold $dirRows")
  }

  test("property: the driver path equals the plan path on adversarial batches") {
    // 4-dim vectors over {-1, 0, 1, 2} (and zero vectors), so directions
    // repeat (exact sim ties) and zero vectors give NaN cosines; 5 cells,
    // so small corpora leave probed buckets missing
    val cells = 5
    val ivf = IvfIndex.Model(Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f), Array(-0.5f, -0.5f, -0.5f, -0.5f)))
    val pq = PqIndex.Model(Array.fill(2)(Array(Array(1f, 0f), Array(0f, 1f), Array(-0.6f, -0.8f))))
    val vec: Gen[Seq[Float]] = Gen.frequency(
      1 -> Gen.const(Seq.fill(4)(0f)), 6 -> Gen.listOfN(4, Gen.oneOf(-1f, 0f, 1f, 2f)))
    val batch = for {
      n <- Gen.choose(1, 14)
      vectors <- Gen.listOfN(n, vec)
      twice <- Gen.someOf(0 until n)      // stored twice in both indexes
      noFloat <- Gen.someOf(1 until n)    // absent from the float index
      nq <- Gen.choose(1, 6)
      ids <- Gen.pick(nq, 0L until n + 4L) // corpus ids and fresh ones
      embs <- Gen.listOfN(nq, Gen.frequency(5 -> vec.map(Option(_)), 1 -> Gen.const(None)))
      nullIds <- Gen.choose(0, 1)
      dupes <- Gen.someOf(0 until nq)     // the same query row again
      k <- Gen.choose(1, 4)
      nProbe <- Gen.choose(1, cells + 1)
      rerankFactor <- Gen.choose(1, 3)
    } yield {
      val corpus = (0 until n).map(i => Row(i.toLong, vectors(i))) ++ twice.map(i => Row(i.toLong, vectors(i)))
      val floats = corpus.filterNot(r => noFloat.toSet(r.getLong(0).toInt))
      val qs = ids.toSeq.zip(embs).map { case (id, e) => Row(id, e.orNull) }
      val queries = qs ++ dupes.map(qs(_)) ++ Seq.fill(nullIds)(Row(null, vectors.head))
      (corpus, floats, queries, k, nProbe, rerankFactor)
    }
    // batches without nulls declare non-nullable columns: the result schema
    // follows the inputs' nullability on both paths
    def schema(nullable: Boolean) = StructType(Seq(StructField("vec_id", LongType, nullable),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable)))
    val root = s"/tmp/graft_pq_paths_pid${ProcessHandle.current().pid()}"
    val seen = scala.collection.mutable.Set.empty[String]
    try (0 until 16).flatMap(i => batch(Gen.Parameters.default, Seed(11L + i))).zipWithIndex
      .foreach { case ((corpus, floats, queries, k, nProbe, rerankFactor), i) =>
        val dir = s"$root/$i"
        def frame(s: SparkSession, rows: Seq[Row]) = s.createDataFrame(rows.asJava,
          schema(rows.exists(r => r.isNullAt(0) || r.isNullAt(1))))
        PqIndex.assign(ivf, pq, frame(spark, corpus)).write.partitionBy("bucket").parquet(s"$dir/codes")
        IvfIndex.assign(ivf, frame(spark, floats)).write.partitionBy("bucket").parquet(s"$dir/floats")
        def searchIn(s: SparkSession) = PqIndex.searchIndexed(ivf, pq, frame(s, queries),
          s.read.parquet(s"$dir/codes"), s.read.parquet(s"$dir/floats"), k, nProbe, rerankFactor)
        val onDriver = searchIn(spark)
        val planned = searchIn(planSession)
        assert(onDriver.queryExecution.analyzed.isInstanceOf[LocalRelation], s"case $i: not local")
        assert(onDriver.schema == planned.schema, s"case $i: schemas differ")
        def rows(df: DataFrame) = df.collect().toSeq
          .sortBy(r => (r.getLong(0), r.getInt(2))).map(_.toString)
        val got = onDriver.collect().toSeq
        assert(rows(onDriver) == rows(planned),
          s"case $i: k=$k nProbe=$nProbe rerank=$rerankFactor queries=$queries corpus=$corpus")
        // which of the promised shapes this case exercised
        val probedBuckets = frame(spark, queries)
          .select(explode(ivf.probeBuckets(col("embedding"), nProbe))).collect().map(_.getInt(0))
        val stored = new java.io.File(s"$dir/codes").list().toSet
        val byQuery = got.groupBy(_.getLong(0))
        if (probedBuckets.exists(b => !stored(s"bucket=$b"))) seen += "missing bucket"
        if (nProbe >= cells) seen += "nProbe >= cells"
        if (queries.exists(r => !r.isNullAt(0) && r.getLong(0) < corpus.length)) seen += "id in corpus"
        if (queries.distinct.length < queries.length) seen += "duplicate query"
        if (queries.exists(r => !r.isNullAt(0) && r.isNullAt(1))) seen += "null embedding"
        if (got.exists(r => !r.isNullAt(3) && r.getDouble(3).isNaN)) seen += "NaN sim"
        if (byQuery.values.exists(_.length < k)) seen += "fewer than k"
        if (byQuery.values.exists(rs => rs.map(_.get(3)).distinct.length < rs.map(_.get(1)).distinct.length))
          seen += "sim tie"
      }
    finally rm(new java.io.File(root))
    assert(seen == Set("missing bucket", "nProbe >= cells", "id in corpus", "duplicate query",
      "null embedding", "NaN sim", "fewer than k", "sim tie"), s"cases covered: $seen")
  }

  test("PQ code-index lifecycle: append adds exactly the batch, retract restores content, compact is content-identical") {
    val ivf = IvfIndex.fit(corpus, k = 10)
    val pq = PqIndex.fit(corpus, m = 16, numCodes = 16)
    // MUTATED store → pid-scoped path (two concurrent JVMs must not race)
    val path = s"/tmp/graft_pq_lifecycle_pid${ProcessHandle.current().pid()}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(path))
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val batch = corpus.filter(col("vec_id") % 5 === 0)
    graft.ops.Bucketing.writePartitioned(
      PqIndex.assign(ivf, pq, base), path, Seq("bucket"))
    def store() = spark.read.parquet(path)
    def rows() = store().select("vec_id", "codes", "bucket")
      .collect().map(_.toSeq).toSet
    val baseRows = rows()

    // APPEND under the frozen models: exactly the batch's code rows land
    PqIndex.appendToIndex(ivf, pq, batch, path)
    val appended = rows()
    val expectBatch = PqIndex.assign(ivf, pq, batch)
      .select("vec_id", "codes", "bucket")
      .collect().map(_.toSeq).toSet
    assert(appended == baseRows ++ expectBatch,
      "append must add exactly the batch's frozen-model code rows")

    // RETRACT via the shared bucket surgery (schema-agnostic: survivor
    // rewrite carries the store's own columns, codes included)
    IvfIndex.retractFromIndex(spark, ivf, batch, path)
    assert(rows() == baseRows,
      "retract must restore the pre-append store content exactly")

    // COMPACT: content-identical fold of the re-appended small files
    PqIndex.appendToIndex(ivf, pq, batch, path)
    val full = rows()
    val dst = path + "_compact"
    rm(new java.io.File(dst))
    IvfIndex.compactIndex(spark, path, dst)
    assert(spark.read.parquet(dst).select("vec_id", "codes", "bucket")
        .collect().map(_.toSeq).toSet == full,
      "compaction must be content-identical on the code store")
    rm(new java.io.File(path)); rm(new java.io.File(dst))
  }

  test("rerank repairs ADC rank inversions: top-1 agrees with IVF float search") {
    val ivf = IvfIndex.fit(corpus, k = 10)
    val pq = PqIndex.fit(corpus, m = 16, numCodes = 16)
    val queries = corpus.filter(col("vec_id") < 20)
    val floatTop = IvfIndex.search(ivf, queries, corpus, k = 1, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full-width shortlist: every ADC candidate is reranked exactly, so the
    // top-1 within the same probe set must match the float path exactly
    val pqTop = PqIndex.search(ivf, pq, queries, corpus, k = 1, nProbe = 4,
        rerankFactor = corpus.count().toInt)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pqTop == floatTop,
      s"full-width rerank must equal the float IVF top-1; diff = ${
        (pqTop.toSet diff floatTop.toSet).take(5)}")
  }
}
