package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.pipeline.CrossModal
import graft.queries.{Dedup, DedupStore, Tables}
import graft.streaming.CrossModalDedupStream

/** Streaming cross-modal fold: each micro-batch must behave exactly like
  * one q192 daily absorb — per-batch family rows equal to the batch
  * operator's, assignment AND all three modality indexes twin-identical
  * to sequential batch absorbs, a full replay byte-stable, and tombstoned
  * docs refused at the front door.
  */
class CrossModalDedupStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def assignSet(df: DataFrame): Set[(Long, Long)] =
    df.select("component", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def bandSet(path: String): Set[List[Any]] =
    spark.read.parquet(s"$path/dhbands")
      .select("doc_id", "dh", "band", "bhash")
      .collect().map(_.toSeq.toList).toSet

  private def textBandSet(path: String): Set[List[Any]] =
    spark.read.parquet(s"$path/bands")
      .select("doc_id", "band", "bhash")
      .collect().map(_.toSeq.toList).toSet

  private def buildStores(root: String, corpus: DataFrame): CrossModal.EdgeSources = {
    val src = CrossModal.EdgeSources(s"$root/text", s"$root/img", s"$root/aud",
      videoIndexPath = Some(s"$root/vid"))
    DedupStore.persistBandIndex(corpus, src.textIndexPath)
    Multimodal.Image.persist(Multimodal.imagePayloads(corpus), src.imageIndexPath)
    Multimodal.Audio.persist(Multimodal.audioPayloads(corpus), src.audioIndexPath)
    Multimodal.Video.persist(Multimodal.videoPayloads(corpus), s"$root/vid")
    src
  }

  test("micro-batches equal q192 absorbs: twin stores, per-batch results, replay stability, tombstone guard") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(Long, String)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING)
    import spark.implicits._

    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val b1 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val b2 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    def rows(df: DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val root = java.nio.file.Files.createTempDirectory("graft_xm_stream").toString
    val live = buildStores(s"$root/live", corpus)
    val twin = buildStores(s"$root/twin", corpus)
    val livePath = s"$root/live/xm"
    val twinPath = s"$root/twin/xm"
    CrossModal.persist(corpus, livePath)
    CrossModal.persist(corpus, twinPath)
    val results = s"$root/results"

    // the batch twin: two sequential q192 absorbs, capturing each batch's
    // own family rows at fold time
    def batchRows(merged: DataFrame, b: DataFrame) =
      assignSet(merged.join(b.select("doc_id"), Seq("doc_id"))
        .select(col("component"), col("doc_id")))
    val m1 = CrossModal.incremental(spark, b1, twinPath, twin).localCheckpoint()
    val exp1 = batchRows(m1, b1)
    CrossModal.absorbMerged(spark, m1, b1, twinPath, twin)
    val m2 = CrossModal.incremental(spark, b2, twinPath, twin).localCheckpoint()
    val exp2 = batchRows(m2, b2)
    CrossModal.absorbMerged(spark, m2, b2, twinPath, twin)
    assert(exp1.nonEmpty && exp2.nonEmpty)

    val input = MemoryStream[(Long, String)]
    val q = CrossModalDedupStream.start(
      input.toDF().toDF("doc_id", "text"), livePath, live, results,
      queryName = "xm_dedup_t", checkpointDir = Some(s"$root/ckpt"))
    input.addData(rows(b1): _*)
    q.processAllAvailable()
    input.addData(rows(b2): _*)
    q.processAllAvailable()
    q.stop()

    assert(assignSet(spark.read.parquet(s"$results/batch=0")) == exp1,
      "micro-batch 1 must emit exactly the q192 fold's batch rows")
    assert(assignSet(spark.read.parquet(s"$results/batch=1")) == exp2,
      "micro-batch 2 must fold against the assignment GROWN by batch 1")
    assert(assignSet(CrossModal.readAssignment(spark, livePath)) ==
      assignSet(CrossModal.readAssignment(spark, twinPath)),
      "stream assignment must be twin-identical to batch absorbs")
    assert(textBandSet(live.textIndexPath) == textBandSet(twin.textIndexPath),
      "text index must grow twin-identically")
    assert(bandSet(live.imageIndexPath) == bandSet(twin.imageIndexPath),
      "image index must grow twin-identically")
    assert(bandSet(live.audioIndexPath) == bandSet(twin.audioIndexPath),
      "audio index must grow twin-identically")
    assert(bandSet(live.videoIndexPath.get) == bandSet(twin.videoIndexPath.get),
      "video frame index must grow twin-identically")
    def vcSet(p: String) = spark.read.parquet(s"$p/vcounts")
      .collect().map(_.toSeq.toList).toSet
    assert(vcSet(live.videoIndexPath.get) == vcSet(twin.videoIndexPath.get),
      "video denominators must grow twin-identically")

    // FULL REPLAY (fresh checkpoint): the assignment witness skips both
    // the results rewrite and the absorbs — stores byte-stable
    val before = assignSet(CrossModal.readAssignment(spark, livePath))
    val imgBefore = bandSet(live.imageIndexPath)
    val input2 = MemoryStream[(Long, String)]
    val q2 = CrossModalDedupStream.start(
      input2.toDF().toDF("doc_id", "text"), livePath, live, results,
      queryName = "xm_dedup_replay_t", checkpointDir = Some(s"$root/ckpt2"))
    input2.addData(rows(b1): _*)
    q2.processAllAvailable()
    q2.stop()
    assert(assignSet(CrossModal.readAssignment(spark, livePath)) == before,
      "replay must not disturb the assignment")
    assert(bandSet(live.imageIndexPath) == imgBefore,
      "replay must not re-append the modality indexes")

    // TOMBSTONE guard: forgotten docs never re-enter through the stream
    val ledger = s"$root/tombs"
    graft.pipeline.Forget.appendTombstones(
      docs.filter(pmod(col("doc_id"), lit(7)) === 0).select(col("doc_id")), ledger)
    CrossModal.retract(spark,
      docs.filter(pmod(col("doc_id"), lit(7)) === 0).select(col("doc_id")),
      livePath, live)
    val cleanAssign = assignSet(CrossModal.readAssignment(spark, livePath))
    val input3 = MemoryStream[(Long, String)]
    val q3 = CrossModalDedupStream.start(
      input3.toDF().toDF("doc_id", "text"), livePath, live, results,
      queryName = "xm_dedup_tomb_t", checkpointDir = Some(s"$root/ckpt3"),
      tombstonePath = Some(ledger))
    input3.addData(rows(docs.filter(pmod(col("doc_id"), lit(7)) === 0)): _*)
    q3.processAllAvailable()
    q3.stop()
    assert(assignSet(CrossModal.readAssignment(spark, livePath)) == cleanAssign,
      "a re-crawl of forgotten docs must be refused at the front door")
  }
}
