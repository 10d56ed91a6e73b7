package graft

import org.apache.spark.sql.functions._

import graft.operators.IvfIndex
import graft.queries.{Similarity, Tables}

/** IVF ANN against the planted-cluster embeddings (testdata `label` marks
  * 10 generator clusters).
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val corpus = Tables(spark, "/root/testdata/sf0.001", "embeddings")

  test("bucket assignment recovers well-separated synthetic clusters exactly") {
    import spark.implicits._
    // 3 clusters around axis-aligned distant centers, tiny jitter
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val c = i % 3
      val base = Array.fill(8)(0f)
      base(c) = 100f
      val emb = base.map(v => v + rnd.nextFloat())
      (i.toLong, emb.toSeq, c)
    }
    val df = rows.toDF("vec_id", "embedding", "truth")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val model = IvfIndex.fit(df, k = 3)
    val assigned = IvfIndex.assign(model, df)
    // every truth-cluster maps to exactly one bucket
    val m = assigned.groupBy("truth", "bucket").count().collect()
    assert(m.length == 3, s"each synthetic cluster must land in one bucket: ${m.mkString(",")}")
    assert(m.map(_.getAs[Any]("bucket")).distinct.length == 3)
  }

  test("4-probe IVF search recalls most of the brute-force top-5") {
    val model = IvfIndex.fit(corpus, k = 10)
    val queries = corpus.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = IvfIndex.search(model, queries, corpus, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.7, s"recall@5 = $recall with 4/10 buckets probed")
  }

  test("q173 recall sweep: monotone in nProbe, full-probe ceiling exact, sweep agrees with a direct search") {
    val model = IvfIndex.fit(corpus, k = 10)
    val queries = corpus.filter(col("vec_id") < 20)
    val sweep = Similarity
      .ivfRecallSweep(model, queries, corpus, k = 5, probes = Seq(1, 2, 4, 10))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sweep.map(_._1).toSeq == Seq(1, 2, 4, 10))
    sweep.foreach { case (_, (nq, nt, nc, _)) =>
      assert(nq == 20 && nt == 100 && nc <= nt)
    }
    // recall is monotone non-decreasing in nProbe (probe sets are nested)
    val bps = sweep.map(_._2._4)
    assert(bps.zip(bps.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nProbe: ${bps.toSeq}")
    // structural ceiling: probing every bucket IS brute force, exactly
    assert(bps.last == 10000L,
      s"full-probe recall must be exactly 10000 bp, got ${bps.last}")
    // the sweep's grid point must agree with a direct search at that nProbe
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = IvfIndex.search(model, queries, corpus, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val directCaught = (exact & direct).size.toLong
    assert(sweep.find(_._1 == 4).get._2._3 == directCaught,
      "the sweep's nProbe=4 numerator must equal the stand-alone search's")
  }

  test("persisted index: scan prunes to exactly the probed bucket directories") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }

    val model = IvfIndex.fit(corpus, k = 10)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec").toString + "/idx"
    graft.ops.Bucketing.writePartitioned(IvfIndex.assign(model, corpus), path, Seq("bucket"))
    val bucketDirs = new java.io.File(path).listFiles
      .count(_.getName.startsWith("bucket="))

    val queries = corpus.filter(col("vec_id") < 5)
    val nProbe = 2
    val expectedBuckets = queries
      .select(explode(model.probeBuckets(col("embedding"), nProbe)).as("b"))
      .distinct().count()
    assert(expectedBuckets < bucketDirs, "test must actually exercise pruning")

    val out = IvfIndex.searchIndexed(model, queries, spark.read.parquet(path), k = 3, nProbe = nProbe)
    val rows = out.select("query_id", "neighbor_id", "rank").collect()
    out.collect() // finalize AQE before walking the executed plan

    val indexScan = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(path)))
    assert(indexScan.nonEmpty, "no scan over the persisted index found")
    assert(indexScan.head.selectedPartitions.partitionCount == expectedBuckets,
      s"expected $expectedBuckets pruned buckets of $bucketDirs, " +
        s"got ${indexScan.head.selectedPartitions.partitionCount}")

    // same results as the in-memory form (identical model + probe set)
    val mem = IvfIndex.search(model, queries, corpus, k = 3, nProbe = nProbe)
      .select("query_id", "neighbor_id", "rank").collect()
    assert(rows.map(_.toString).sorted.sameElements(mem.map(_.toString).sorted))

    // the DUMPABLE candidate path (q56/q193's oracle dumps) must prune
    // exactly like the fused search — a candidate dump that scanned the
    // whole index would silently pay the unpruned cost at 100 TB
    val cand = IvfIndex.candidatesIndexed(
      model, queries, spark.read.parquet(path), nProbe = nProbe)
    cand.collect()
    val candScan = scans(cand.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(path)))
    assert(candScan.nonEmpty, "no scan over the persisted index found in candidates")
    assert(candScan.head.selectedPartitions.partitionCount == expectedBuckets,
      s"candidatesIndexed must prune to $expectedBuckets buckets, " +
        s"got ${candScan.head.selectedPartitions.partitionCount}")
  }

  test("appendToIndex: day-N+1 vectors join the persisted index without a rebuild") {
    // split the corpus, index the old half, append the new half under the
    // SAME frozen model — searches over the appended index must equal
    // searches over an index built from the full corpus in one shot, and
    // no day-0 file may be rewritten by the append
    val model = IvfIndex.fit(corpus, k = 4)
    val old = corpus.filter(col("vec_id") % 5 =!= 0)
    val fresh = corpus.filter(col("vec_id") % 5 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_append").toString + "/idx"
    graft.ops.Bucketing.writePartitioned(IvfIndex.assign(model, old), path, Seq("bucket"))
    def files() = {
      val root = java.nio.file.Paths.get(path)
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet"))
        .map[(String, Long)](p => (p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toArray.toSeq.map(_.asInstanceOf[(String, Long)])
      finally s.close()
    }
    val before = files().toSet
    IvfIndex.appendToIndex(model, fresh, path)
    val after = files().toSet
    assert(before.subsetOf(after), "append must not rewrite or touch day-0 files")
    assert(after.size > before.size, "append must add the batch's files")

    val queries = corpus.filter(col("vec_id") < 10)
    def topk(indexed: org.apache.spark.sql.DataFrame) =
      IvfIndex.searchIndexed(model, queries, indexed, k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val appended = topk(spark.read.parquet(path))
    val oneShot = topk(IvfIndex.assign(model, corpus))
    assert(appended === oneShot,
      "search over the appended index must equal the one-shot full build")

    // COMPACTION (the q129 story for the vector store): the fragmented
    // appended index rewritten into sorted runs must be content-identical,
    // strictly fewer files, and search-identical
    val dst = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact").toString + "/idx"
    IvfIndex.compactIndex(spark, path, dst)
    def rows(p: String) = spark.read.parquet(p)
      .select("vec_id", "bucket").collect().map(_.toSeq).toSet
    assert(rows(dst) === rows(path), "compaction changed the index content")
    def nFiles(p: String) = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.filter(_.toString.endsWith(".parquet")).count().toInt finally s.close()
    }
    assert(nFiles(dst) < nFiles(path),
      s"compaction must shrink files: ${nFiles(path)} -> ${nFiles(dst)}")
    assert(topk(spark.read.parquet(dst)) === appended,
      "compaction changed search results")

    // REPLAYED-APPEND duplicates (an at-least-once absorb re-running on
    // the same batch) are search-invisible and SHED by compaction — the
    // VectorIngestStream lockstep contract's storage-only clause
    IvfIndex.appendToIndex(model, fresh, path)
    assert(topk(spark.read.parquet(path)) === appended,
      "duplicate rows must not change search results")
    val dst2 = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact2").toString + "/idx"
    IvfIndex.compactIndex(spark, path, dst2)
    val compacted = spark.read.parquet(dst2)
    assert(compacted.count() ===
      compacted.select("bucket", "vec_id").distinct().count(),
      "compaction must shed replayed-append duplicates")
    assert(topk(compacted) === appended,
      "dedup-compaction changed search results")
  }

  test("retractFromIndex: retract(append(batch)) restores content, prunes to touched buckets") {
    // base = everything but cluster 0; the batch = cluster 0's vectors —
    // geometrically concentrated, so its assignment touches FEW buckets
    // and the rest of the index must come through the retract without
    // their files even being opened for write
    val model = IvfIndex.fit(corpus, k = 10)
    val base = corpus.filter(col("label") =!= 0)
    val batch = corpus.filter(col("label") === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_retract").toString + "/idx"
    graft.ops.Bucketing.writePartitioned(IvfIndex.assign(model, base), path, Seq("bucket"))
    def rows() = spark.read.parquet(path)
      .select("vec_id", "bucket").collect().map(_.toSeq).toSet
    def files() = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.filter(p => p.toString.endsWith(".parquet"))
        .map[(String, Long)](p => (p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toArray.toSeq.map(_.asInstanceOf[(String, Long)])
      finally s.close()
    }
    val beforeRows = rows()
    val beforeFiles = files().toSet
    IvfIndex.appendToIndex(model, batch, path)
    val touched = IvfIndex.assign(model, batch)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    assert(touched.size < 10, "fixture drift: cluster 0 should not hit every bucket")

    IvfIndex.retractFromIndex(spark, model, batch, path)
    assert(rows() === beforeRows,
      "retract must restore the exact pre-append index content")
    val untouchedAfter = files().filterNot { case (p, _) =>
      touched.exists(b => p.contains(s"bucket=$b/")) }.toSet
    val untouchedBefore = beforeFiles.filterNot { case (p, _) =>
      touched.exists(b => p.contains(s"bucket=$b/")) }
    assert(untouchedAfter === untouchedBefore,
      "retract must not rewrite (or even re-date) untouched bucket directories")

    // a bucket the base never populated but the batch created must
    // DISAPPEAR on retract, not linger empty (searchIndexed's bucket IN
    // pruning treats absence as emptiness)
    val baseBuckets = beforeRows.map(_(1).asInstanceOf[Int])
    for (b <- touched -- baseBuckets)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/bucket=$b")),
        s"batch-only bucket $b must vanish on retract")

    val queries = corpus.filter(col("vec_id") < 10)
    def topk5(indexed: org.apache.spark.sql.DataFrame) =
      IvfIndex.searchIndexed(model, queries, indexed, k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(topk5(spark.read.parquet(path)) === topk5(IvfIndex.assign(model, base)),
      "search over the retracted index must equal the pre-append build")
  }

  test("retractFromIndex crash recovery: a bucket stranded at the aside dir is restored, zero loss") {
    // the r12-advice crash window: a prior retract died BETWEEN the two
    // per-bucket renames — the bucket's only complete copy sits at
    // path+".retract.old"/bucket=b, absent from the index. A replay must
    // restore it BEFORE the survivor rewrite (without the entry preamble
    // the rewrite would compute survivors missing that bucket, then the
    // aside reset would delete the last copy — permanent loss).
    val model = IvfIndex.fit(corpus, k = 10)
    val base = corpus.filter(col("label") =!= 0)
    val batch = corpus.filter(col("label") === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_crash").toString + "/idx"
    graft.ops.Bucketing.writePartitioned(IvfIndex.assign(model, base), path, Seq("bucket"))
    def rows() = spark.read.parquet(path)
      .select("vec_id", "bucket").collect().map(_.toSeq).toSet
    val beforeRows = rows()
    IvfIndex.appendToIndex(model, batch, path)
    // strand a batch-touched bucket that also holds BASE rows (those are
    // the rows at stake) at the aside dir, exactly as the crash leaves it
    val touched = IvfIndex.assign(model, batch)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    val baseBuckets = beforeRows.map(_(1).asInstanceOf[Int]).toSet
    val b = (touched intersect baseBuckets).head
    val aside = java.nio.file.Paths.get(path + ".retract.old")
    java.nio.file.Files.createDirectories(aside)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$path/bucket=$b"), aside.resolve(s"bucket=$b"))
    // replay of the retract: preamble restores, rewrite completes
    IvfIndex.retractFromIndex(spark, model, batch, path)
    assert(rows() === beforeRows,
      s"replayed retract must restore bucket $b's surviving rows exactly")
    assert(!java.nio.file.Files.exists(aside), "the aside dir must be cleared")
  }

  test("quantized index + asymmetric scoring + float rerank: recall >= 0.9 vs the float path") {
    val model = IvfIndex.fit(corpus, k = 10)
    val queries = corpus.filter(col("vec_id") < 20)
    val floatPath = IvfIndex.search(model, queries, corpus, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quantized = IvfIndex.searchIndexedQuantized(
      model, queries, IvfIndex.assignQuantized(model, corpus), corpus,
      k = 5, nProbe = 4, rerankFactor = 4)
    val got = quantized.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (floatPath & got).size.toDouble / floatPath.size
    assert(recall >= 0.9,
      s"int8 shortlist (factor 4) + exact rerank must keep >= 0.9 of the float path, got $recall")
    // the quantized kernel really scored int8: q8 column is array<tinyint>
    val q8Type = IvfIndex.assignQuantized(model, corpus).schema("q8").dataType
    assert(q8Type.simpleString == "array<tinyint>", s"index must store int8, got $q8Type")
  }

  test("quantized search with a full-width shortlist equals the float path exactly") {
    // rerankFactor covering every candidate makes the exact rerank rank the
    // SAME candidate pool as the float search — the two must be identical,
    // which pins the asymmetric-scoring plumbing (join keys, dedup, rerank
    // fetch) independent of quantization error
    val model = IvfIndex.fit(corpus, k = 10)
    val queries = corpus.filter(col("vec_id") < 10)
    val n = corpus.count().toInt
    val full = IvfIndex.searchIndexedQuantized(
      model, queries, IvfIndex.assignQuantized(model, corpus), corpus,
      k = 5, nProbe = 4, rerankFactor = n)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toString).sorted
    val float = IvfIndex.search(model, queries, corpus, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toString).sorted
    assert(full.sameElements(float))
  }

  test("search output ranks are dense per query and self-matches excluded") {
    val model = IvfIndex.fit(corpus, k = 10)
    val out = IvfIndex.search(model, corpus.filter(col("vec_id") < 5), corpus, k = 3, nProbe = 2)
    val rows = out.collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length))
    }
  }
}
