package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[shims.snap]], the engine's one materialization primitive: evidence
  * under its tag, no second checkpoint over storage-backed rows, and no
  * materialization anywhere in `src/main` that bypasses it. (Lives in the
  * shim's package beside [[SparkActivity]].)
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
    val (out, ran) = SparkActivity.during(spark)(body)
    (out, ran.jobs)
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
    val materialize = """localCheckpoint\(|\.checkpoint\(""".r
    val hits = _root_.graft.SourceScan.hits(materialize).filter(_.file.getName != "shims.scala")
    assert(hits.isEmpty, "materialize through shims.snap instead:\n" + hits.mkString("\n"))
  }
}
