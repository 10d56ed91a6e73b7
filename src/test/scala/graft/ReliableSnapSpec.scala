package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

import graft.operators.BpeTrainer
import graft.queries.{Dedup, DedupStore, Tables}

/** `spark.graft.snap.reliable` reaches every snap family, not only the CC
  * loop (ConnectedComponentsSpec covers that one): each family below runs
  * once under local checkpoints and once through reliable checkpoint files
  * in ONE shared reliable session, and must produce identical rows.
  */
class ReliableSnapSpec extends SparkSpec {
  private val sf = Bench.WarmupDir // the sf0.001 fixture corpus
  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-rel-snap").toFile
  private lazy val reliable: SparkSession = {
    val s = shims.cloneSession(spark)
    s.conf.set(shims.ReliableSnapKey, "true")
    s.conf.set(shims.SnapDirKey, dir.toString)
    s
  }

  private def filesUnder(f: java.io.File): Int =
    if (f.isFile) 1 else Option(f.listFiles).iterator.flatten.map(filesUnder).sum

  /** `run` under local snaps and under the reliable session: the outputs,
    * after asserting the reliable run wrote new checkpoint files.
    */
  private def bothModes[T](run: SparkSession => T): (T, T) = {
    val local = run(spark)
    val before = filesUnder(dir)
    val rel = run(reliable)
    assert(filesUnder(dir) > before, s"reliable mode must write checkpoint files under $dir")
    (local, rel)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("reliable snaps: multi-consumer corpus snaps (fullDedupPipeline) give identical rows") {
    val (local, rel) = bothModes(s => rows(Dedup.fullDedupPipeline(Tables(s, sf, "documents"))))
    assert(local.nonEmpty)
    assert(rel == local)
  }

  test("reliable snaps: the write barrier (appendToExactIndex) gives an identical store") {
    val (local, rel) = bothModes { s =>
      val docs = Tables(s, sf, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft-rel-exact").toString + "/idx"
      DedupStore.persistExactIndex(docs.filter(col("doc_id") % 3 =!= 0), path)
      // novel docs plus reposts of stored ones under fresh ids: only the
      // novel fingerprints may append
      val batch = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      DedupStore.appendToExactIndex(s, batch, path)
      rows(s.read.parquet(s"$path/exact_fp"))
    }
    assert(local.nonEmpty)
    assert(rel == local)
  }

  test("reliable snaps: the BPE loop snap learns identical merges") {
    val (local, rel) =
      bothModes(s => BpeTrainer.learnMerges(Tables(s, sf, "documents"), numMerges = 8))
    assert(local.size == 8)
    assert(rel == local)
  }
}
