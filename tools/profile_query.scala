// Per-job attribution for ONE registered query: runs the query through the
// noop sink (after a sf0.001 warm-up rep) with a SparkListener recording
// each job's wall time, task time, shuffle read/write bytes, description and
// call site (the name of its last stage, e.g. `count at Foo.scala:12`).
// Each rep also prints how many whole-stage/expression codegen compiles it
// paid (Janino compiles; a class served from Spark's codegen cache is not
// counted, so this is the recompile count that
// `spark.sql.codegen.cache.maxEntries` governs).
// Usage:
//   GRAFT_Q=q192_crossmodal_incremental GRAFT_SF_DIR=/root/testdata/sf0.1 \
//   /opt/spark/bin/spark-shell --master 'local[32]' \
//     --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=32 \
//     --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/jsontoparquetspark_2.13-0.1.0.jar \
//     -I tools/profile_query.scala
import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentHashMap

val qname = sys.env.getOrElse("GRAFT_Q", "q192_crossmodal_incremental")
val sfDir = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.1")
val reps = sys.env.getOrElse("GRAFT_REPS", "2").toInt

case class J(var desc: String = "", var site: String = "", var t0: Long = 0, var t1: Long = 0,
             var taskMs: Long = 0, var shufR: Long = 0, var shufW: Long = 0,
             var tasks: Int = 0, var stages: Int = 0)
val jobs = new ConcurrentHashMap[Int, J]()
val stageToJob = new ConcurrentHashMap[Int, Int]()
@volatile var capture = false

spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (capture) {
    val j = new J(Option(e.properties.getProperty("spark.job.description")).getOrElse(""),
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val jid = stageToJob.get(e.stageInfo.stageId)
    if (jid != null) {
      val j = jobs.get(jid)
      if (j != null) {
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.shufW += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }
})

val fn = graft.SparkEntry.queries(qname)
// warm-up (codegen/JIT + store builds at both SFs)
try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save() catch { case e: Throwable => println(s"[prof] warmup1 failed: $e") }
try fn(spark, sfDir).write.format("noop").mode("overwrite").save() catch { case e: Throwable => println(s"[prof] warmup2 failed: $e") }

(1 to reps).foreach { rep =>
  jobs.clear(); stageToJob.clear()
  capture = true
  val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  val t0 = System.nanoTime()
  val df = fn(spark, sfDir)
  val tBuild = (System.nanoTime() - t0) / 1e9
  df.write.format("noop").mode("overwrite").save()
  val tTot = (System.nanoTime() - t0) / 1e9
  capture = false
  val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
  Thread.sleep(300)
  println(f"%n[prof] === $qname rep $rep: build=$tBuild%.2f s total=$tTot%.2f s, ${jobs.size} jobs, $compiles codegen compiles ===")
  import scala.jdk.CollectionConverters._
  val js = jobs.asScala.toSeq.sortBy(_._1)
  js.foreach { case (id, j) =>
    val wall = (j.t1 - j.t0) / 1e3
    println(f"[prof] job $id%3d wall=$wall%6.2f s task=${j.taskMs / 1e3}%7.2f s stages=${j.stages}%2d tasks=${j.tasks}%4d shufR=${j.shufR / 1e6}%8.1f MB shufW=${j.shufW / 1e6}%8.1f MB  ${j.site}  ${j.desc.take(80)}")
  }
  println(f"[prof] sum job wall=${js.map(j => (j._2.t1 - j._2.t0) / 1e3).sum}%.2f s  sum task=${js.map(_._2.taskMs).sum / 1e3}%.2f s")
}
sys.exit(0)
