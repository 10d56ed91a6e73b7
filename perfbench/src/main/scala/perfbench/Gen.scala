package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import scala.util.Random

import graft.gen.Findings

/** Seeded input generators. Every generator is a pure function of
  * (seed, size): it writes its inputs, and the planted truth the checks
  * compare against, under `dir` only. `cached` skips the work when the same
  * (seed, size) was generated before, because generation is never timed and
  * `gen.Findings` alone costs about 0.7 ms per record.
  */
object Gen {

  /** Mixes the workload seed with a stream index, so sub-streams differ. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + i * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Runs `gen` into `dir` unless a previous run left `dir/DONE`. */
  def cached(dir: String)(gen: String => Unit): String = {
    if (!new File(dir, "DONE").exists()) {
      val tmp = dir + ".tmp"
      deleteTree(new File(tmp))
      new File(tmp).mkdirs()
      gen(tmp)
      Files.write(Paths.get(tmp, "DONE"), Array.emptyByteArray)
      deleteTree(new File(dir))
      new File(tmp).renameTo(new File(dir))
    }
    dir
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeLines(path: String, lines: Iterator[String], gzip: Boolean = false): Unit = {
    val raw = new FileOutputStream(path)
    val out = if (gzip) new GZIPOutputStream(raw, 1 << 16) else raw
    val w = new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  def readLines(path: String): Vector[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  // --- convert: gen.Findings objects ---------------------------------------

  /** One gzipped NDJSON object of the convert stream. */
  final case class FindingsObject(path: String, records: Int, sorted: Boolean, ndjsonBytes: Long)

  /** The `_dt` leaf paths every Findings object plants; DtCoercion must turn
    * each into a timestamp and leave every other leaf's type alone.
    */
  val FindingsDtPaths: Set[String] = Set(
    "time_dt", "metadata.product.my_dt", "finding_info_list[].created_time_dt",
    "finding_info_list[].first_seen_time_dt",
    "finding_info_list[].related_events[].modified_time_dt")

  /** Fixed size and order schedule of the object pool: the seed varies the
    * records, never the load shape, so runs with different seeds measure the
    * same mix of fixed per-object cost and per-byte cost. Two of three
    * objects share a size, so the median object time falls inside one size
    * class instead of on the gap between two.
    */
  val ObjectSchedule: Seq[(Int, Boolean)] = Seq(1200 -> false, 300 -> true, 1200 -> true)

  def findings(dir: String, seed: Long, scale: Double): Seq[FindingsObject] = {
    val sizes = ObjectSchedule.map { case (n, s) => (math.max(50, (n * scale).toInt), s) }
    val tag = f"$dir/convert-s$seed-x$scale%.3f"
    cached(tag) { out =>
      // one thread per object: records are independent, and the pool is
      // built before the Spark session starts
      val jobs = sizes.zipWithIndex.map { case ((n, sorted), i) =>
        new Thread(() => {
          val objSeed = mix(seed, i.toLong)
          val order =
            if (sorted) Vector.range(0, n) else new Random(objSeed).shuffle(Vector.range(0, n))
          var ndjson = 0L
          val lines = order.iterator.map { r =>
            val l = Findings.record(r, objSeed).render
            ndjson += l.getBytes(StandardCharsets.UTF_8).length + 1
            l
          }
          writeLines(s"$out/obj-$i.ndjson.gz", lines, gzip = true)
          Files.write(Paths.get(out, s"obj-$i.truth"),
            s"$n\t$sorted\t$ndjson".getBytes(StandardCharsets.UTF_8))
        })
      }
      jobs.foreach(_.start())
      jobs.foreach(_.join())
    }
    sizes.indices.map { i =>
      val Array(n, sorted, ndjson) = readLines(s"$tag/obj-$i.truth").head.split("\t")
      val p = s"$tag/obj-$i.ndjson.gz"
      FindingsObject(p, n.toInt, sorted.toBoolean, ndjson.toLong)
    }
  }

  // --- dedup: documents with planted copies --------------------------------

  /** One generated document. `kind` is its planted role: `unique`,
    * `original` (has a planted copy), `exact` / `near` (a copy of `orig`) or
    * `para` (shares paragraph `orig` with other docs of the same group).
    */
  final case class Doc(id: Long, kind: String, orig: Long, text: String) {
    def tsv: String = s"$id\t$kind\t$orig\t$text"
  }

  object Doc {
    def parse(l: String): Doc = {
      val Array(id, kind, orig, text) = l.split("\t", 4)
      Doc(id.toLong, kind, orig.toLong, text)
    }
  }

  /** Paragraph length in tokens: the chunk window of `Dedup.paragraphDedup`,
    * so a shared paragraph placed first in a doc is exactly one chunk.
    */
  val ParagraphTokens = 32

  /** Token substitutions per near copy, per 100 tokens. At 1 substitution in
    * ~100 tokens a near copy keeps ~94% of its 3-shingles, far above the 0.7
    * threshold, so LSH misses a planted pair with probability ~5e-6.
    */
  val NearEditsPer100 = 1

  final class TextGen(seed: Long) {
    private val rng = new Random(mix(seed, 0xd0c5L))
    /** 6,000 synthetic words; draws are skewed (u²) so common words recur. */
    val vocab: Vector[String] = Vector.fill(6000) {
      val len = 3 + rng.nextInt(7)
      (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    def words(r: Random, n: Int): Vector[String] =
      Vector.fill(n) { val u = r.nextDouble(); vocab((u * u * vocab.size).toInt) }
    def fresh(id: Long): String = {
      val r = new Random(mix(seed, id))
      words(r, 90 + r.nextInt(41)).mkString(" ")
    }
    def near(id: Long, text: String): String = {
      val r = new Random(mix(seed, ~id))
      val toks = text.split(" ").toBuffer
      val edits = math.max(1, toks.size * NearEditsPer100 / 100)
      (0 until edits).foreach { _ =>
        val i = r.nextInt(toks.size)
        toks(i) = toks(i) + "x" + r.nextInt(1000)
      }
      toks.mkString(" ")
    }
    def paragraph(p: Long): String = words(new Random(mix(seed, -1L - p)), ParagraphTokens).mkString(" ")
  }

  /** A corpus of `n` docs: ~10% exact copies, ~10% near copies, ~15% in
    * groups of 3 sharing a first paragraph, the rest unique. Planted roles
    * are disjoint, so each check has exactly one expected outcome.
    */
  def corpus(tg: TextGen, firstId: Long, n: Int, r: Random): Vector[Doc] = {
    val out = Vector.newBuilder[Doc]
    var id = firstId
    var para = 0L
    while (id < firstId + n) {
      val roll = r.nextInt(20)
      val left = firstId + n - id
      if (roll < 2 && left >= 2) {
        val t = tg.fresh(id)
        out += Doc(id, "original", -1, t)
        out += Doc(id + 1, "exact", id, t)
        id += 2
      } else if (roll < 4 && left >= 2) {
        val t = tg.fresh(id)
        out += Doc(id, "original", -1, t)
        out += Doc(id + 1, "near", id, tg.near(id + 1, t))
        id += 2
      } else if (roll < 5 && left >= 3) {
        val p = tg.paragraph(firstId + para)
        (0 until 3).foreach { j =>
          out += Doc(id + j, "para", firstId + para, p + " " + tg.fresh(id + j))
        }
        para += 1
        id += 3
      } else {
        out += Doc(id, "unique", -1, tg.fresh(id))
        id += 1
      }
    }
    out.result()
  }

  def dedupCorpus(dir: String, seed: Long, n: Int): Vector[Doc] = {
    val d = cached(s"$dir/dedup-s$seed-n$n") { out =>
      val docs = corpus(new TextGen(seed), 0L, n, new Random(mix(seed, 1L)))
      writeLines(s"$out/docs.tsv", docs.iterator.map(_.tsv))
    }
    readLines(s"$d/docs.tsv").map(Doc.parse)
  }

  // --- knn: clustered embeddings -------------------------------------------

  val Dim = 64
  val Clusters = 200

  /** `n` corpus vectors and `queries` query vectors drawn from one mixture
    * of `Clusters` gaussian clusters on the unit sphere (noise 0.35 per
    * unit-norm centre). Planted truth: each vector's cluster, first column
    * of `vectors.tsv`.
    */
  def embeddings(dir: String, seed: Long, n: Int, queries: Int)
      : (Array[Array[Float]], Array[Array[Float]]) = {
    val d = cached(s"$dir/knn-s$seed-n$n-q$queries") { out =>
      val r = new Random(mix(seed, 3L))
      val centres = Array.fill(Clusters) {
        val c = Array.fill(Dim)(r.nextGaussian())
        val norm = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / norm)
      }
      def draw(): (Int, Array[Float]) = {
        val c = r.nextInt(Clusters)
        (c, Array.tabulate(Dim)(i => (centres(c)(i) + r.nextGaussian() * 0.35 / math.sqrt(Dim)).toFloat))
      }
      def rows(m: Int) = Iterator.fill(m)(draw()).map { case (c, v) => s"$c\t${v.mkString(" ")}" }
      writeLines(s"$out/vectors.tsv", rows(n))
      writeLines(s"$out/queries.tsv", rows(queries))
    }
    def load(f: String) = readLines(s"$d/$f").map(_.split("\t")(1).split(" ").map(_.toFloat)).toArray
    (load("vectors.tsv"), load("queries.tsv"))
  }
}
