// Scale rehearsal for the cross-store forget (Forget.forgetEverywhere +
// Forget.residuals): builds EVERY store family over the target corpus once
// into a pristine base root (reused across runs), copies it to a run-scoped
// root, then times (1) the pre-forget residual audit, (2) the forget
// mutation itself, (3) the post-forget audit — asserting all-zero. Run:
//   GRAFT_SF_DIR=/tmp/graft_sf1 /opt/spark/bin/spark-shell --master 'local[32]' \
//     --driver-memory 24g --conf spark.ui.enabled=false \
//     --conf spark.sql.shuffle.partitions=32 \
//     --jars target/scala-2.13/jsontoparquetspark_2.13-0.1.0.jar \
//     -I tools/bench_forget_sf1.scala
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.operators.{IvfIndex, PqIndex}
import graft.pipeline.Forget
import graft.queries.{Curation, DedupStore, Tables}
import graft.streaming.ReleaseIngestStream
val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/tmp/graft_sf1")
val root = "/tmp/graft_forget_bench_" + java.lang.Integer.toHexString(sf.hashCode)
val base = s"$root/base"
val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
val emb = Tables(spark, sf, "embeddings")
val model = IvfIndex.fit(emb, k = 16, maxIter = 5)
def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
if (!exists(s"$base/_DONE")) {
  val t0 = System.nanoTime
  ReleaseIngestStream.ingest(docs, s"$base/dedup", s"$base/release")
  DedupStore.persistExactIndex(docs, s"$base/dedup")
  Curation.refcountedWindowStore(docs).write.mode("overwrite").option("compression", "zstd").parquet(s"$base/win")
  Curation.scoreHistogram(docs).write.mode("overwrite").option("compression", "zstd").parquet(s"$base/hist")
  graft.ops.Bucketing.writePartitioned(IvfIndex.assign(model, emb), s"$base/ivf", Seq("bucket"))
  val pq = PqIndex.fit(emb, m = 8, numCodes = 16)
  graft.ops.Bucketing.writePartitioned(PqIndex.assign(model, pq, emb), s"$base/pq", Seq("bucket"))
  Multimodal.Image.persist(Multimodal.imagePayloads(docs), s"$base/img")
  Multimodal.Audio.persist(Multimodal.audioPayloads(docs), s"$base/aud")
  Multimodal.Video.persist(Multimodal.videoPayloads(docs), s"$base/vid")
  java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$base/_DONE"))
  println(f"[build] all 11 store families ${(System.nanoTime - t0) / 1e9}%.1f s")
}
val run = s"$root/run_pid" + ProcessHandle.current().pid()
def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = { val s = java.nio.file.Files.walk(src); try s.forEach { p => val q = dst.resolve(src.relativize(p)); if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q) else java.nio.file.Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING) } finally s.close() }
copyDir(java.nio.file.Paths.get(base), java.nio.file.Paths.get(run))
val td = docs.filter(pmod(col("doc_id"), lit(97)) === 0).localCheckpoint()
val tdVecs = emb.filter(pmod(col("vec_id"), lit(97)) === 0).localCheckpoint()
println("[forget] td docs = " + td.count() + ", td vecs = " + tdVecs.count())
val stores = Forget.Stores(dedupIndexDir = Some(s"$run/dedup"), releaseDir = Some(s"$run/release"), refcountWindowPath = Some(s"$run/win"), histogramPath = Some(s"$run/hist"), vectorIndexes = Seq((model, s"$run/ivf"), (model, s"$run/pq")), imageIndexPath = Some(s"$run/img"), audioIndexPath = Some(s"$run/aud"), videoIndexPath = Some(s"$run/vid"))
def timed[T](name: String)(f: => T): T = { val t0 = System.nanoTime; val r = f; println(f"[forget] $name ${(System.nanoTime - t0) / 1e9}%.2f s"); r }
val pre = timed("pre-audit")(Forget.residuals(td.select(col("doc_id")), Forget.families(spark, stores)).collect())
pre.foreach(r => println(s"[pre] $r"))
timed("forgetEverywhere")(Forget.forgetEverywhere(spark, td, tdVecs, stores))
val post = timed("post-audit")(Forget.residuals(td.select(col("doc_id")), Forget.families(spark, stores)).collect())
post.foreach(r => println(s"[post] $r"))
assert(post.forall(_.getLong(1) == 0L), "post-forget residuals must be all-zero")
println("[forget] post-audit all-zero OK")
sys.exit(0)
