package graft

import org.apache.spark.sql.DataFrame

/** Side-channel from `shims.snap` to the benchmark's plan fingerprinting.
  *
  * Problem (judged in round 7): operators that materialize via checkpoint +
  * measured-stats rewrap (ConnectedComponents, BpeTrainer) return a
  * DataFrame whose `optimizedPlan` is just the post-checkpoint LEAF — q55
  * and q71 hashed IDENTICALLY even though their pair-generation pipelines
  * are completely different, so a regression in the truncated-away input
  * pipeline was invisible to hash-based noise/regression triage.
  *
  * Fix: `shims.snap` `record`s the optimized plan of every pipeline it
  * materializes, under the snap's tag, just before truncating it;
  * [[Bench]] drains the buffer after each query's timed runs and folds
  * the normalized evidence into that query's plan hash. Recording is OFF
  * by default (zero cost outside the bench — rendering a large optimized
  * plan to text is not free) and the buffer is bounded per drain by
  * however many snaps one query runs.
  */
object PlanEvidence {

  @volatile var enabled: Boolean = false

  private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  /** Record `df`'s optimized logical plan under `tag` — call BEFORE the
    * plan is truncated by a checkpoint. No-op unless [[enabled]].
    */
  def record(tag: String, df: DataFrame): Unit =
    if (enabled) {
      val plan = df.queryExecution.optimizedPlan.toString
      synchronized { buf += tag -> plan }
    }

  def clear(): Unit = synchronized { buf.clear() }

  /** Remove and return everything recorded since the last drain/clear. */
  def drain(): Seq[(String, String)] = synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}
