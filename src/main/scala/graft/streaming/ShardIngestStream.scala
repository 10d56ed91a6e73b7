package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{ShardExport, StoreSwap}

/** Streaming ingestion INTO the training-shard layout — the continuous
  * form of the incremental export (q120): each micro-batch plays the role
  * of a "day" and lands via [[ShardExport.append]] as new `shard_id=`
  * directories, so shards already published to training jobs stay
  * byte-stable while the corpus grows batch by batch.
  *
  * A [[MicroBatch]] body is the right sink shape here: the append is a
  * BATCH operation with its own bounded aggregates over the existing layout
  * (per-source max pack id, global max shard), and Structured Streaming's
  * epoch guarantee makes batches sequential — so the read-maxima/append
  * cycle never races itself. Restart semantics are the standard
  * foreachBatch contract: with a checkpoint the stream resumes at the
  * failed micro-batch, and a re-run of a HALF-written batch appends only
  * what the failed attempt did not commit... which parquet cannot express
  * transactionally — so the deployment contract is the same as every
  * foreachBatch file sink: either pair it with a batch-id manifest check
  * downstream, or accept at-least-once shard delivery on crash replay. The
  * spec covers the normal path (two batches, published-shard stability,
  * conservation).
  *
  * The FIRST batch bootstraps the layout via [[ShardExport.write]] (there
  * is no day-0 to append onto); every later batch appends.
  */
object ShardIngestStream {

  def start(
      docs: DataFrame,
      outDir: String,
      epoch: Int = 1,
      packTokens: Int = 512,
      shardTokens: Int = 2048,
      queryName: String = "shard_ingest",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery = {
    val epochDir = s"$outDir/epoch=$epoch"
    MicroBatch.start(docs, queryName, trigger, checkpointDir, tombstonePath) { (b, _) =>
      if (!StoreSwap.committed(b.sparkSession, epochDir))
        ShardExport.write(b, outDir, epoch, packTokens, shardTokens)
      else ShardExport.append(b.sparkSession, b, epochDir, epoch, packTokens, shardTokens)
    }
  }
}
