package graft

import scala.jdk.CollectionConverters._

import graft.streaming.MicroBatch

/** The one micro-batch driver: its forget guard is the guard every
  * store-writing stream shares, so it is checked once here, on a
  * `doc_id`-keyed and a `vec_id`-keyed feed; and no stream writes its own
  * `foreachBatch` sink or guard beside it.
  */
class MicroBatchSpec extends SparkSpec {

  for (idCol <- Seq("doc_id", "vec_id"))
  test(s"$idCol stream: a tombstoned batch never reaches the body, a mixed one reaches it guarded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft_micro_batch").toString
    val ledger = s"$root/tombs"
    graft.pipeline.Forget.appendTombstones(Seq(1L, 2L).toDF("doc_id"), ledger)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String], Set[(Long, String)])]
    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.start(input.toDF().toDF(idCol, "text"), s"micro_batch_${idCol}_t",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      checkpointDir = Some(s"$root/ckpt"), tombstonePath = Some(ledger), idCol = idCol) {
      (b, batchId) =>
        seen.add((batchId, b.columns.toSeq,
          b.collect().map(r => (r.getLong(0), r.getString(1))).toSet))
    }
    input.addData((1L, "gone"), (2L, "gone too"))
    q.processAllAvailable()
    input.addData((2L, "gone again"), (3L, "kept"), (4L, "kept too"))
    q.processAllAvailable()
    q.stop()

    val got = seen.asScala.toSeq
    assert(got.map(_._1) == Seq(1L), s"only the mixed batch may reach the body: $got")
    assert(got.head._2 == Seq(idCol, "text"), s"the guard must hand back the feed's columns: $got")
    assert(got.head._3 == Set((3L, "kept"), (4L, "kept too")),
      s"the body must receive exactly the non-tombstoned rows: $got")
  }

  test("foreachBatch and the stream forget guard are written once, in the driver") {
    val comment = Seq("*", "//", "/*")
    def code(pattern: scala.util.matching.Regex) =
      SourceScan.hits(pattern).filterNot(h => comment.exists(h.text.startsWith))
    val sinks = code("""foreachBatch""".r)
      .filterNot(h => Set("MicroBatch.scala", "ConvertStream.scala")(h.file.getName))
    assert(sinks.isEmpty, "run a stream body through MicroBatch.start:\n" + sinks.mkString("\n"))
    // ReleaseIngestStream.ingest is also the batch entry point, so it keeps its guard
    val ingestGuard = "graft.pipeline.Forget.filterForgotten(s, batch, p))"
    val guards = code("""filterForgotten\(""".r)
      .filter(_.file.getPath.contains("/graft/streaming/"))
      .filterNot(h => h.file.getName == "MicroBatch.scala" ||
        h.file.getName == "ReleaseIngestStream.scala" && h.text == ingestGuard)
    assert(guards.isEmpty, "guard a stream through MicroBatch.start's tombstonePath:\n" +
      guards.mkString("\n"))
  }
}
