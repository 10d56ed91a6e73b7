// Per-job attribution for PqIndex.searchIndexed on a perfbench knn input,
// on both of its paths, plus a row-parity check between them. Builds the
// knn workload's models and persisted code/float indexes from the input's
// corpus.parquet, then runs each 32-query batch of queries.tsv through the
// driver path (this session; the index fits under the default broadcast
// threshold) and through the plan path (a cloned session with
// spark.sql.autoBroadcastJoinThreshold=-1). For the first GRAFT_REPS batches
// it prints each job's wall time and call site (e.g. `collect at
// PqIndex.scala:330`); for every batch it prints whether
// both paths returned identical rows and the same schema.
// Usage (the input dir exists after one `perfbench/run.py --workload knn`):
//   GRAFT_KNN_DIR=perfbench/.work/inputs/knn-s11-n2000-q256 \
//   $SPARK_HOME/bin/spark-shell --master 'local[4]' \
//     --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/jsontoparquetspark_2.13-0.1.0.jar \
//     -I tools/profile_knn.scala
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import graft.operators.{IvfIndex, PqIndex}

val knnDir = sys.env.getOrElse("GRAFT_KNN_DIR", "perfbench/.work/inputs/knn-s11-n2000-q256")
val reps = sys.env.getOrElse("GRAFT_REPS", "2").toInt
val work = s"${System.getProperty("java.io.tmpdir")}/graft_profile_knn"
val (batchSize, k, idBase) = (32, 10, 1000000000L) // the knn workload's settings

// a job's call site: the action's for a job it runs itself, the SQL
// action's that an adaptive stage job belongs to (such jobs run on a
// CompletableFuture, whose frame is their own call site)
case class J(site: String, exec: String, t0: Long, var t1: Long = 0L)
val jobs = new ConcurrentHashMap[Int, J]()
val sqlSites = new ConcurrentHashMap[String, String]()
@volatile var capture = false
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (capture) {
    jobs.put(e.jobId, J(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""),
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse(""),
      e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSites.put(s.executionId.toString, s.description)
    case _ =>
  }
})
def site(j: J): String =
  if (j.site.contains("CompletableFuture")) s"stage of ${sqlSites.getOrDefault(j.exec, j.site)}" else j.site

val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
  StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
val pool: Seq[Seq[Float]] = scala.io.Source.fromFile(s"$knnDir/queries.tsv").getLines().map(
  _.split("\t")(1).split(" ").map(_.toFloat).toSeq).toSeq
val corpus = spark.read.parquet(s"$knnDir/corpus.parquet")
val ivf = IvfIndex.fit(corpus.limit(2048).coalesce(1), k = 16, maxIter = 5)
val pq = PqIndex.fit(corpus.limit(2048).coalesce(1), m = 16, numCodes = 16, maxIter = 10)
graft.ops.Bucketing.writePartitioned(PqIndex.assign(ivf, pq, corpus), s"$work/codes", Seq("bucket"))
graft.ops.Bucketing.writePartitioned(IvfIndex.assign(ivf, corpus), s"$work/floats", Seq("bucket"))

val planSession = org.apache.spark.sql.graft.shims.cloneSession(spark)
planSession.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
def searchFrame(s: SparkSession, b: Int): DataFrame = {
  val rows = (b * batchSize until (b + 1) * batchSize).map(j => Row(idBase + j, pool(j)))
  PqIndex.searchIndexed(ivf, pq, s.createDataFrame(rows.asJava, schema),
    s.read.parquet(s"$work/codes"), s.read.parquet(s"$work/floats"), k = k)
}
def search(s: SparkSession, b: Int): Array[Row] = searchFrame(s, b).collect()
val batches = pool.length / batchSize
search(spark, 0); search(planSession, 0) // warm-up: codegen, JIT, file listing

Seq("driver" -> spark, "plan" -> planSession).foreach { case (path, s) =>
  (1 to reps).foreach { rep =>
    jobs.clear()
    capture = true
    val t0 = System.nanoTime()
    search(s, rep % batches)
    val total = (System.nanoTime() - t0) / 1e9
    capture = false
    Thread.sleep(300)
    val js = jobs.asScala.toSeq.sortBy(_._1)
    println(f"%n[prof] === $path path, batch ${rep % batches}: $total%.3f s, ${js.size} jobs ===")
    js.foreach { case (id, j) => println(f"[prof] job $id%4d wall=${(j.t1 - j.t0) / 1e3}%6.3f s  ${site(j)}") }
  }
}

def key(r: Row) = (r.getLong(0), r.getInt(2))
val identical = (0 until batches).count { b =>
  val (driverFrame, planFrame) = (searchFrame(spark, b), searchFrame(planSession, b))
  val onDriver = driverFrame.collect().sortBy(key).map(_.toString).toSeq
  val planned = planFrame.collect().sortBy(key).map(_.toString).toSeq
  val same = onDriver == planned && driverFrame.schema == planFrame.schema
  println(s"[prof] parity batch $b: ${if (same) "identical" else "DIFFERENT"} " +
    s"(${onDriver.length} driver rows, ${planned.length} plan rows)")
  same
}
println(s"[prof] parity: $identical/$batches batches row-identical")
sys.exit(0)
