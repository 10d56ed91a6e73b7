package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Forget

/** The one micro-batch driver behind every store-writing stream and
  * per-batch monitor: a `foreachBatch` sink that skips empty micro-batches,
  * drops tombstoned ids at the front door (plumbing, not caller
  * discipline: a forgotten id never reaches a store through a stream) and
  * hands the rest to the stream's body with its batch id. Restart
  * semantics are `foreachBatch`'s at-least-once; a store-writing body
  * narrows each batch to its [[remainder]] before any effect, so a replay
  * re-runs only what the store has not absorbed.
  */
object MicroBatch {

  /** Run `body` on every non-empty micro-batch of `rows`. With
    * `tombstonePath`, ledger ids drop first ([[Forget.filterForgotten]];
    * the ledger is `doc_id`-keyed and shares its id domain with `vec_id`,
    * so another `idCol` is renamed round the guard) and a batch the
    * ledger empties runs nothing.
    */
  def start(
      rows: DataFrame,
      queryName: String,
      trigger: Trigger,
      checkpointDir: Option[String] = None,
      tombstonePath: Option[String] = None,
      idCol: String = "doc_id")(body: (DataFrame, Long) => Unit): StreamingQuery = {
    def guard(batch: DataFrame, ledger: String): DataFrame =
      if (idCol == "doc_id") Forget.filterForgotten(batch.sparkSession, batch, ledger)
      else Forget.filterForgotten(batch.sparkSession,
        batch.withColumnRenamed(idCol, "doc_id"), ledger).withColumnRenamed("doc_id", idCol)
    val writer = rows.writeStream
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val kept = tombstonePath.fold(batch.toDF())(guard(batch.toDF(), _))
          if (tombstonePath.isEmpty || !kept.isEmpty) body(kept, batchId)
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
  }

  /** The rows of `batch` whose `idCol` is not among `absorbed`'s, snapped
    * under `tag` so a body's probe and absorb see the identical row set;
    * `None` when the store already holds them all (a pure replay). The
    * store side of the anti join stays un-broadcast: it is the unbounded
    * side, the batch the small one.
    */
  def remainder(batch: DataFrame, absorbed: DataFrame, idCol: String, tag: String): Option[DataFrame] =
    Some(org.apache.spark.sql.graft.shims.snap(
      batch.join(absorbed.select(idCol), Seq(idCol), "left_anti"), tag)).filterNot(_.isEmpty)
}
