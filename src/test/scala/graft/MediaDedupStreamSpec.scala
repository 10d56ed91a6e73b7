package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.MediaDedupStream

/** Streaming media dedup guard: each micro-batch must behave EXACTLY like
  * one daily batch of the incremental media trio — probe results equal to
  * the batch operator's, the index left twin-identical to sequential batch
  * absorbs, and a full replay of already-absorbed batches byte-stable on
  * both the index and the results (the at-least-once contract).
  */
class MediaDedupStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def bandSet(path: String) = spark.read.parquet(s"$path/dhbands")
    .select("doc_id", "dh", "band", "bhash")
    .collect().map(_.toSeq.toList).toSet

  private def pairSet(df: DataFrame) = df.collect().map(_.toSeq.toList).toSet

  private def mediaRows(media: DataFrame): Seq[(Long, Array[Byte])] =
    media.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq

  // audio and image share one start; the batch twin runs each at the
  // stream's default threshold for that modality (q186: 6, q185: 8)
  for ((m, maxHamming) <- Seq(Multimodal.Image -> 8, Multimodal.Audio -> 6))
  test(s"${m.name} stream: micro-batches equal batch probes, twin-identical store, replay byte-stable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY)

    val docs = graft.queries.Tables(spark, dir, "documents")
    val store = m.payloads(docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)))
    val b1 = m.payloads(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val b2 = m.payloads(docs.filter(pmod(col("doc_id"), lit(5)) === 4))
    val root = java.nio.file.Files.createTempDirectory("graft_media_stream").toString
    val live = s"$root/live"
    val twin = s"$root/twin"
    val results = s"$root/results"
    m.persist(store, live)
    m.persist(store, twin)

    // the batch twin: sequential daily absorbs through the BATCH operators
    val exp1 = pairSet(m.incrementalPairs(spark, b1, twin, maxHamming))
    m.appendTo(b1, twin)
    val exp2 = pairSet(m.incrementalPairs(spark, b2, twin, maxHamming))
    m.appendTo(b2, twin)
    assert(exp1.nonEmpty && exp2.nonEmpty, "fixture must exercise store hits")

    val input = MemoryStream[(Long, Array[Byte])]
    val q = MediaDedupStream.start(m)(
      input.toDF().toDF("doc_id", "payload"), live, results,
      queryName = s"media_dedup_${m.name}_t",
      checkpointDir = Some(s"$root/ckpt"))
    input.addData(mediaRows(b1): _*)
    q.processAllAvailable()
    input.addData(mediaRows(b2): _*)
    q.processAllAvailable()
    q.stop()

    // micro-batch ≡ one daily batch: per-batch results match the batch
    // operator run at the same store state
    assert(pairSet(spark.read.parquet(s"$results/batch=0")) == exp1,
      "micro-batch 1 must flag exactly the batch operator's pairs")
    assert(pairSet(spark.read.parquet(s"$results/batch=1")) == exp2,
      "micro-batch 2 must flag pairs against the index GROWN by batch 1")
    // twin-store pin: the stream's index equals two batch absorbs
    assert(bandSet(live) == bandSet(twin),
      "stream absorbs must leave the index twin-identical to batch absorbs")

    // FULL REPLAY (fresh checkpoint, same batches): the guard must find
    // both batches absorbed and touch nothing — index and results stable
    val before = bandSet(live)
    val res1 = pairSet(spark.read.parquet(s"$results/batch=0"))
    val input2 = MemoryStream[(Long, Array[Byte])]
    val q2 = MediaDedupStream.start(m)(
      input2.toDF().toDF("doc_id", "payload"), live, results,
      queryName = s"media_dedup_${m.name}_replay_t",
      checkpointDir = Some(s"$root/ckpt2"))
    input2.addData(mediaRows(b1): _*)
    q2.processAllAvailable()
    input2.addData(mediaRows(b2): _*)
    q2.processAllAvailable()
    q2.stop()
    assert(bandSet(live) == before, "replay must not grow the index")
    assert(pairSet(spark.read.parquet(s"$results/batch=0")) == res1,
      "replay must not disturb committed results")
  }

  test("image stream: a partial-overlap batch absorbs only its remainder, not nothing") {
    // the r13 advice case: a batch that legitimately contains one doc_id
    // already indexed (duplicate submission, overlapping feeds) must not
    // be silently dropped wholesale — the genuinely-new docs still probe
    // and absorb
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY)

    val docs = graft.queries.Tables(spark, dir, "documents")
    val store = Multimodal.imagePayloads(
      docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)))
    val b1 = Multimodal.imagePayloads(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val root = java.nio.file.Files.createTempDirectory("graft_media_overlap").toString
    val live = s"$root/live"
    val twin = s"$root/twin"
    val results = s"$root/results"
    Multimodal.Image.persist(store, live)
    Multimodal.Image.persist(store, twin)

    // the batch twin runs the REMAINDER only — that is the contract
    val exp1 = pairSet(Multimodal.Image.incrementalPairs(spark, b1, twin, 8))
    Multimodal.Image.appendTo(b1, twin)

    // mixed feed: the whole new batch plus one already-absorbed store doc
    val mixed = mediaRows(b1) ++ mediaRows(store.orderBy("doc_id").limit(1))
    val input = MemoryStream[(Long, Array[Byte])]
    val q = MediaDedupStream.start(Multimodal.Image)(
      input.toDF().toDF("doc_id", "payload"), live, results,
      queryName = "media_dedup_image_overlap_t",
      checkpointDir = Some(s"$root/ckpt"))
    input.addData(mixed: _*)
    q.processAllAvailable()
    q.stop()

    assert(pairSet(spark.read.parquet(s"$results/batch=0")) == exp1,
      "the overlap batch must flag exactly the remainder's pairs")
    assert(bandSet(live) == bandSet(twin),
      "only the remainder may be absorbed — no drop, no double-absorb")
  }

  test("image stream: tombstoned docs are refused at the front door") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY)

    val docs = graft.queries.Tables(spark, dir, "documents")
    val store = Multimodal.imagePayloads(
      docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)))
    val b1 = Multimodal.imagePayloads(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val keepOnly = Multimodal.imagePayloads(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0 && pmod(col("doc_id"), lit(10)) =!= 0))
    val root = java.nio.file.Files.createTempDirectory("graft_media_tomb").toString
    val live = s"$root/live"
    val twin = s"$root/twin"
    val results = s"$root/results"
    Multimodal.Image.persist(store, live)
    Multimodal.Image.persist(store, twin)
    val ledger = s"$root/tombs"
    graft.pipeline.Forget.appendTombstones(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0).select(col("doc_id")), ledger)

    // the batch twin over the NON-tombstoned half only
    val exp1 = pairSet(Multimodal.Image.incrementalPairs(spark, keepOnly, twin, 8))
    Multimodal.Image.appendTo(keepOnly, twin)

    val input = MemoryStream[(Long, Array[Byte])]
    val q = MediaDedupStream.start(Multimodal.Image)(
      input.toDF().toDF("doc_id", "payload"), live, results,
      queryName = "media_dedup_image_tomb_t",
      checkpointDir = Some(s"$root/ckpt"),
      tombstonePath = Some(ledger))
    input.addData(mediaRows(b1): _*)
    q.processAllAvailable()
    q.stop()

    assert(pairSet(spark.read.parquet(s"$results/batch=0")) == exp1,
      "the guarded stream must probe only the non-tombstoned rows")
    assert(bandSet(live) == bandSet(twin),
      "tombstoned docs must never enter the index through the stream")
  }

  test("video stream: frame-grain probe agrees with the batch operator and absorbs both artifacts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY)

    val docs = graft.queries.Tables(spark, dir, "documents")
    val store = Multimodal.videoPayloads(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    val b1 = Multimodal.videoPayloads(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val root = java.nio.file.Files.createTempDirectory("graft_media_stream_v").toString
    val live = s"$root/live"
    val twin = s"$root/twin"
    val results = s"$root/results"
    Multimodal.Video.persist(store, live)
    Multimodal.Video.persist(store, twin)

    val exp1 = pairSet(
      Multimodal.Video.incrementalPairs(spark, b1, twin, maxHamming = 8, minOverlap = 0.5))
    Multimodal.Video.appendTo(b1, twin)
    assert(exp1.nonEmpty, "fixture must exercise video store hits")

    val input = MemoryStream[(Long, Array[Byte])]
    val q = MediaDedupStream.start(Multimodal.Video)(
      input.toDF().toDF("doc_id", "payload"), live, results,
      queryName = "media_dedup_video_t",
      checkpointDir = Some(s"$root/ckpt"))
    input.addData(mediaRows(b1): _*)
    q.processAllAvailable()
    q.stop()

    assert(pairSet(spark.read.parquet(s"$results/batch=0")) == exp1,
      "the video micro-batch must flag exactly the batch operator's pairs")
    assert(bandSet(live) == bandSet(twin),
      "the stream must absorb the frame bands twin-identically")
    val vcLive = spark.read.parquet(s"$live/vcounts").select("vid", "nf")
      .collect().map(_.toSeq.toList).toSet
    val vcTwin = spark.read.parquet(s"$twin/vcounts").select("vid", "nf")
      .collect().map(_.toSeq.toList).toSet
    assert(vcLive == vcTwin,
      "the stream must absorb the vcounts denominators twin-identically")
  }
}
