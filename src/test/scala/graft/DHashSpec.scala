package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Perceptual image dedup: dHash64 must connect the re-encodings a
  * byte-level checksum cannot (format re-encode, rescale, brightness
  * shift) and must NOT connect unrelated patterns.
  */
class DHashSpec extends SparkSpec {
  import spark.implicits._

  test("dHash is invariant to re-encode/rescale/brightness; unrelated images are far") {
    val base = Multimodal.synthImage(7L)
    val rescaled = Multimodal.resizeImage(base, 48, 48).get
    val brighter = Multimodal.synthImage(7L, brightness = 14)
    val unrelated = Multimodal.synthImage(8L)
    val hBase = Multimodal.dHash64(base).get
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // re-encoded duplicates: the planted-fixture contract the q70 fixture
    // relies on — small hamming despite no shared bytes
    assert(ham(hBase, Multimodal.dHash64(rescaled).get) <= 8,
      "48x48 PNG re-encode must stay within the q70 hamming budget")
    assert(ham(hBase, Multimodal.dHash64(brighter).get) <= 8,
      "uniform brightness shift preserves gradient signs")
    // unrelated pattern: ~32 expected; anything above the verify budget
    // proves the control rows cannot leak into the dup set
    assert(ham(hBase, Multimodal.dHash64(unrelated).get) > 8,
      "structurally unrelated images must not collide")
    // non-images produce no hash (pipeline stays total on arbitrary bytes)
    assert(Multimodal.dHash64("not an image".getBytes).isEmpty)
    // the kernels stage through their own memory-cached streams: the
    // process-wide ImageIO cache flag keeps its default
    assert(javax.imageio.ImageIO.getUseCache,
      "image kernels must not change the process-wide ImageIO cache setting")
  }

  test("q70 finds exactly the planted re-encoding families on real doc_ids") {
    // imagePayloads plants: family f = {4f+0 original, 4f+1 rescale,
    // 4f+2 brightness} mutual near-dups; 4f+3 a doc-unique control.
    // Recall must be total (every within-family pair found) and no pair
    // may involve a control or cross families.
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Multimodal
      .Image.pairs(Multimodal.imagePayloads(docs), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      id <- ids; other <- ids
      if id < other && id / 4 == other / 4 && id % 4 != 3 && other % 4 != 3
    } yield (id, other)).toSet
    assert(pairs == expected,
      s"missing=${(expected -- pairs).take(5)} spurious=${(pairs -- expected).take(5)}")
  }

  test("q185 incremental equals the full run restricted to batch-touching pairs; append absorbs the batch") {
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val store = Multimodal.imagePayloads(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    val batch = Multimodal.imagePayloads(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val path = s"/tmp/graft_dhidx_spec_pid${ProcessHandle.current().pid()}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(path))
    Multimodal.Image.persist(store, path)

    // incremental ≡ full restricted (the q66 identity, image tier): the
    // whole-corpus pair set restricted to pairs touching the batch, mapped
    // to (new_id, existing_id) with the batch endpoint first
    val full = Multimodal
      .Image.pairs(Multimodal.imagePayloads(docs), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if a % 5 == 0 || b % 5 == 0 =>
        if (a % 5 == 0) (a, b) else (b, a)
    }
    val inc = Multimodal.Image.incrementalPairs(spark, batch, path, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-batch pairs keep new_id < existing_id; batch-vs-store pairs
    // may have either orientation in `expected` — normalize both sides
    def norm(p: (Long, Long)) =
      if (p._1 % 5 == 0 && p._2 % 5 == 0)
        (math.min(p._1, p._2), math.max(p._1, p._2)) else p
    assert(inc.map(norm) == expected.map(norm),
      s"missing=${(expected.map(norm) -- inc.map(norm)).take(5)} " +
        s"spurious=${(inc.map(norm) -- expected.map(norm)).take(5)}")
    assert(inc.nonEmpty, "fixture must exercise batch-touching pairs")

    // APPEND the batch: a re-probe of the same batch now also matches
    // itself through the store — every within-batch pair re-appears as a
    // store hit (both orientations), proving the absorb landed
    Multimodal.Image.appendTo(batch, path)
    val reprobe = Multimodal
      .Image.incrementalPairs(spark, batch, path, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withinBatch = expected.filter(p => p._1 % 5 == 0 && p._2 % 5 == 0)
      .map(norm)
    withinBatch.foreach { case (a, b) =>
      assert(reprobe.contains((a, b)) && reprobe.contains((b, a)),
        s"appended batch must be visible as store hits: ($a, $b)")
    }
    rm(new java.io.File(path))
  }
}
