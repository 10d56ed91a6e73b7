// Warm PROBE-path bench for the cross-modal assignment store (q192) and
// its forget arm: persist the three modality indexes + the cross-modal
// assignment over the %5!=0 store corpus ONCE per artifact root (reused
// across runs when present — the warm state the registered testdata form
// and production both run in), then time ONLY (a) the incremental merge
// of the %5==0 batch (the q192 probe) and (b) the bridge-split retract of
// the %97 takedown set (run against a COPY of the assignment so the warm
// artifact survives for the next run). Run with:
//   GRAFT_SF_DIR=/tmp/graft_sf1 /opt/spark/bin/spark-shell --master 'local[32]' \
//     --driver-memory 24g --conf spark.ui.enabled=false \
//     --conf spark.sql.shuffle.partitions=32 \
//     --jars target/scala-2.13/jsontoparquetspark_2.13-0.1.0.jar \
//     -I tools/bench_crossmodal_probe.scala
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.pipeline.CrossModal
val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/tmp/graft_sf1")
val idxRoot = "/tmp/graft_xm_probe_" + java.lang.Integer.toHexString(sf.hashCode)
val docs = graft.queries.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
val store = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
def ok(p: String, sub: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p, sub, "_SUCCESS"))
val tp = s"$idxRoot/text"; val ip = s"$idxRoot/img"; val ap = s"$idxRoot/aud"; val xp = s"$idxRoot/xm"
if (!ok(tp, "shingles")) { val t0 = System.nanoTime; graft.queries.DedupStore.persistBandIndex(store, tp); println(f"[build] text index ${(System.nanoTime - t0) / 1e9}%.2f s") }
if (!ok(ip, "dhbands")) { val t0 = System.nanoTime; Multimodal.Image.persist(Multimodal.imagePayloads(store), ip); println(f"[build] image index ${(System.nanoTime - t0) / 1e9}%.2f s") }
if (!ok(ap, "dhbands")) { val t0 = System.nanoTime; Multimodal.Audio.persist(Multimodal.audioPayloads(store), ap); println(f"[build] audio index ${(System.nanoTime - t0) / 1e9}%.2f s") }
if (!ok(xp, "assignment")) { val t0 = System.nanoTime; CrossModal.persist(store, xp); println(f"[build] xm assignment ${(System.nanoTime - t0) / 1e9}%.2f s") }
val src = CrossModal.EdgeSources(tp, ip, ap)
def time(name: String)(f: => Long): Unit = { val runs = (1 to 3).map { _ => val t0 = System.nanoTime; val n = f; ((System.nanoTime - t0) / 1e9, n) }; println(f"[probe] $name best=${runs.map(_._1).min}%.2f s runs=${runs.map(r => f"${r._1}%.2f").mkString(",")} rows=${runs.head._2}") }
time("xm_incremental") { CrossModal.incremental(spark, batch, xp, src).count() }
// retract against a throwaway copy so the warm assignment survives
val xcopy = s"$idxRoot/xm_retract_scratch"
import scala.sys.process._
s"rm -rf $xcopy".! ; s"cp -r $xp $xcopy".!
val td = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"))
val t0 = System.nanoTime
CrossModal.retract(spark, td, xcopy, src)
println(f"[retract] xm bridge-split retract ${(System.nanoTime - t0) / 1e9}%.2f s")
val resid = graft.pipeline.Forget.residuals(td, Seq(graft.pipeline.Forget.Family(
  "crossmodal_assignment", CrossModal.readAssignment(spark, xcopy), col("doc_id")))).collect()
println(s"[audit] post-retract residuals: ${resid.mkString(",")}")
s"rm -rf $xcopy".!
sys.exit(0)
