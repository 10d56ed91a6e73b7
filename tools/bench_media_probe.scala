// Warm PROBE-path bench for the media fingerprint indexes (q185/q186/q187):
// persist each modality's index over the %5!=0 store corpus ONCE per
// artifact root (reused across runs when present — the warm state the
// registered testdata form and production both run in), then time ONLY
// the incremental probe of the %5==0 batch. This isolates the number the
// r12 verdict asked for: the per-batch probe cost at 10x, free of the
// per-call store build that dominates a cold non-testdata run. Run with:
//   GRAFT_SF_DIR=/tmp/graft_sf1 /opt/spark/bin/spark-shell --master 'local[32]' \
//     --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=32 \
//     --jars target/scala-2.13/jsontoparquetspark_2.13-0.1.0.jar \
//     -I tools/bench_media_probe.scala
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/tmp/graft_sf1")
val idxRoot = "/tmp/graft_media_probe_" + java.lang.Integer.toHexString(sf.hashCode)
val docs = graft.queries.Tables(spark, sf, "documents")
val store = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
def ready(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p, "dhbands", "_SUCCESS"))
def vready(p: String) = ready(p) && java.nio.file.Files.exists(java.nio.file.Paths.get(p, "vcounts", "_SUCCESS"))
val ip = s"$idxRoot/img"; val ap = s"$idxRoot/aud"; val vp = s"$idxRoot/vid"
if (!ready(ip)) { val t0 = System.nanoTime; Multimodal.Image.persist(Multimodal.imagePayloads(store), ip); println(f"[build] image index ${(System.nanoTime - t0) / 1e9}%.2f s") }
if (!ready(ap)) { val t0 = System.nanoTime; Multimodal.Audio.persist(Multimodal.audioPayloads(store), ap); println(f"[build] audio index ${(System.nanoTime - t0) / 1e9}%.2f s") }
if (!vready(vp)) { val t0 = System.nanoTime; Multimodal.Video.persist(Multimodal.videoPayloads(store), vp); println(f"[build] video index ${(System.nanoTime - t0) / 1e9}%.2f s") }
def time(name: String)(f: => Long): Unit = { val runs = (1 to 3).map { _ => val t0 = System.nanoTime; val n = f; ((System.nanoTime - t0) / 1e9, n) }; println(f"[probe] $name best=${runs.map(_._1).min}%.2f s runs=${runs.map(r => f"${r._1}%.2f").mkString(",")} rows=${runs.head._2}") }
time("image") { Multimodal.Image.incrementalPairs(spark, Multimodal.imagePayloads(batch), ip, 8).count() }
time("audio") { Multimodal.Audio.incrementalPairs(spark, Multimodal.audioPayloads(batch), ap, 6).count() }
time("video") { Multimodal.Video.incrementalPairs(spark, Multimodal.videoPayloads(batch), vp, 8, 0.5).count() }
sys.exit(0)
