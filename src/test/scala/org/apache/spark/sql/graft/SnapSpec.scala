package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[shims.snap]], the engine's one materialization primitive: evidence
  * under its tag, no second checkpoint over storage-backed rows, and no
  * materialization anywhere in `src/main` that bypasses it. (Lives in the
  * shim's package for the listener bus's `waitUntilEmpty`.)
  */
class SnapSpec extends _root_.graft.SparkSpec {
  import _root_.graft.PlanEvidence

  /** The first persisted RDD behind `df`'s executed plan. */
  private def backing(df: DataFrame): RDD[_] = {
    def walk(r: RDD[_]): Option[RDD[_]] =
      if (r.getStorageLevel != StorageLevel.NONE) Some(r)
      else r.dependencies.iterator.flatMap(d => walk(d.rdd)).nextOption()
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    walk(ds.queryExecution.toRdd).getOrElse(fail(s"no persisted RDD behind $df"))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val bus = spark.sparkContext.listenerBus
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    bus.waitUntilEmpty()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("snap records the input plan under its tag when evidence is enabled") {
    PlanEvidence.enabled = true
    try {
      PlanEvidence.clear()
      shims.snap(spark.range(0, 10).select((col("id") * 3).as("v")), "spec.evidence")
      val ev = PlanEvidence.drain()
      assert(ev.map(_._1) == Seq("spec.evidence"), ev)
      assert(ev.head._2.contains("Range"), s"evidence must hold the pre-checkpoint plan: $ev")
    } finally {
      PlanEvidence.enabled = false
      PlanEvidence.clear()
    }
    // disabled: nothing is recorded
    shims.snap(spark.range(0, 10).toDF("id"), "spec.off")
    assert(PlanEvidence.drain().isEmpty)
  }

  test("snap over a trivial projection of a checkpoint reuses its blocks and runs no job") {
    val ck = shims.snap(spark.range(0, 100).select((col("id") * 2).as("v")), "spec.base")
    val renamed = ck.select(col("v").as("w"), col("v").cast("string").as("s"))
    val (again, jobs) = jobsDuring(shims.snap(renamed, "spec.again"))
    assert(jobs == 0, s"a snap over storage-backed rows must not checkpoint again ($jobs jobs)")
    assert(backing(again).id == backing(ck).id, "the snap must read the same checkpoint blocks")
    assert(again.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      (0L until 100L).map(i => (2 * i, (2 * i).toString)).sorted)
    // the control: a derived (non-trivial) projection does materialize
    val (derived, derivedJobs) =
      jobsDuring(shims.snap(ck.select((col("v") + 1).as("u")), "spec.derived"))
    assert(derivedJobs > 0, "a derived projection must be checkpointed")
    assert(backing(derived).id != backing(ck).id)
  }

  test("no materialization in src/main bypasses shims.snap") {
    val cwd = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    val root = Iterator.iterate(cwd)(_.getParentFile).takeWhile(_ != null)
      .map(new java.io.File(_, "src/main")).find(_.isDirectory)
      .getOrElse(fail(s"no src/main at or above $cwd"))
    def scalaFiles(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(scalaFiles)
      else Iterator(f).filter(_.getName.endsWith(".scala"))
    val materialize = """localCheckpoint\(|\.checkpoint\(""".r
    val hits = scalaFiles(root).filter(_.getName != "shims.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex
        .filter { case (line, _) => materialize.findFirstIn(line).isDefined }
        .map { case (line, i) => s"${f.getPath}:${i + 1}: ${line.trim}" }.toList
      finally src.close()
    }.toList
    assert(hits.isEmpty, "materialize through shims.snap instead:\n" + hits.mkString("\n"))
  }
}
