package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkActivity

import graft.operators.{IvfIndex, PqIndex}
import graft.queries.Tables

/** Every IVF-family search is built from one probe join
  * (`IvfIndex.probe`), one rank step and one exact rerank: a persisted
  * search collects its probe set once, whatever it scans, an in-memory
  * search collects nothing, and the probe-bucket explode is written once.
  */
class IvfProbeSpec extends SparkSpec {

  private lazy val corpus = Tables(spark, "/root/testdata/sf0.001", "embeddings")

  test("building a persisted search collects the probe set once; an in-memory one runs no job") {
    val model = IvfIndex.fit(corpus, k = 10)
    val pq = PqIndex.fit(corpus, m = 16, numCodes = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_probe").toString
    graft.ops.Bucketing.writePartitioned(IvfIndex.assign(model, corpus), s"$dir/f", Seq("bucket"))
    graft.ops.Bucketing.writePartitioned(
      IvfIndex.assignQuantized(model, corpus), s"$dir/q", Seq("bucket"))
    val (floats, q8) = (spark.read.parquet(s"$dir/f"), spark.read.parquet(s"$dir/q"))
    val queries = corpus.filter(col("vec_id") < 5)
    def jobs(build: => Any): Int = SparkActivity.during(spark)(build)._2.jobs

    val float = jobs(IvfIndex.searchIndexed(model, queries, floats, k = 3, nProbe = 2))
    assert(float >= 1, "a persisted search prunes to a collected probe set")
    // the int8 scan and the float rerank scan prune to one probe set
    val quantized = jobs(
      IvfIndex.searchIndexedQuantized(model, queries, q8, floats, k = 3, nProbe = 2))
    assert(quantized == float,
      s"searchIndexedQuantized ran $quantized jobs to build, searchIndexed $float")
    Seq(
      "IvfIndex.search" -> jobs(IvfIndex.search(model, queries, corpus, k = 3, nProbe = 2)),
      "IvfIndex.candidates" -> jobs(IvfIndex.candidates(model, queries, corpus, nProbe = 2)),
      "PqIndex.search" -> jobs(PqIndex.search(model, pq, queries, corpus, k = 3, nProbe = 2))
    ).foreach { case (name, n) => assert(n == 0, s"building $name ran $n jobs") }
  }

  test("probeBuckets( is called only by the IVF model, the probe and the query shapes of its own") {
    // IvfIndex: the model and the probe's exploded query side; PqIndex: the
    // collected query side of searchIndexed's driver path; Similarity: q173's
    // best-probe-rank candidates (posexplode) and q71's multi-assign cells
    val allowed = Map(
      "IvfIndex.scala" -> Set(
        "def bucketOf(emb: Column): Column = probeBuckets(emb, 1).getItem(0)",
        "def probeBuckets(emb: Column, nProbe: Int): Column =",
        """explode(model.probeBuckets(col(embCol), nProbe)).as("bucket"))"""),
      "PqIndex.scala" -> Set("ivf.probeBuckets(col(embCol), nProbe))"),
      "Similarity.scala" -> Set(
        """posexplode(model.probeBuckets(col("qv"), maxProbe)))""",
        """explode(model.probeBuckets(col("embedding"), nAssign)).as("cell"))"""))
    val comment = Seq("*", "//", "/*")
    val hits = SourceScan.hits("""probeBuckets\(""".r).filterNot(h => comment.exists(h.text.startsWith))
    val stray = hits.filterNot(h => allowed.getOrElse(h.file.getName, Set.empty[String])(h.text))
    assert(stray.isEmpty, "probe through IvfIndex.probe:\n" + stray.mkString("\n"))
    assert(hits.size == allowed.values.map(_.size).sum,
      "each allowed call once:\n" + hits.mkString("\n"))
  }
}
