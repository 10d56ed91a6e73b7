package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Planted-family recall/precision for the audio near-dup tier (q87):
  * [[Multimodal.audioPayloads]] builds families of 4 (base, level twin,
  * pitch twin, unrelated control), [[Multimodal.Audio.pairs]] must connect
  * the three twins and nothing else.
  */
class AudioFingerprintSpec extends SparkSpec {

  import spark.implicits._

  private def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  test("level-shifted twins fingerprint IDENTICALLY (ratio encoding is scale-exact)") {
    for (fam <- 0L until 25L) {
      val base = Multimodal.audioFingerprint64(Multimodal.familyTone(4 * fam)).get
      val lvl = Multimodal.audioFingerprint64(Multimodal.familyTone(4 * fam + 1)).get
      assert(ham(base, lvl) == 0, s"family $fam: level twin flipped bits")
    }
  }

  test("pitch-shifted twins stay inside the hamming threshold; cross-family stays outside") {
    val within = (0L until 25L).map { fam =>
      val base = Multimodal.audioFingerprint64(Multimodal.familyTone(4 * fam)).get
      val pit = Multimodal.audioFingerprint64(Multimodal.familyTone(4 * fam + 2)).get
      ham(base, pit)
    }
    // an LSH tier's contract is overwhelming-majority recall, not perfection
    assert(within.count(_ <= 6) >= 23, s"pitch-twin hammings: $within")
    val bases = (0L until 25L).map(f =>
      Multimodal.audioFingerprint64(Multimodal.familyTone(4 * f)).get)
    val cross = for (i <- bases.indices; j <- bases.indices if i < j)
      yield ham(bases(i), bases(j))
    assert(cross.min > 6, s"cross-family min hamming ${cross.min} breaches the threshold")
  }

  test("banded pipeline finds twin pairs with high recall and no cross-family pair") {
    val nIds = 120L // 30 families of (base, level, pitch, unrelated)
    val docs = (0L until nIds).toDF("doc_id")
    val pairs = Multimodal.Audio.pairs(Multimodal.audioPayloads(docs), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def isTwin(id: Long) = id % 4 != 3
    val expected = for {
      f <- 0L until (nIds / 4)
      a <- Seq(4 * f, 4 * f + 1, 4 * f + 2)
      b <- Seq(4 * f, 4 * f + 1, 4 * f + 2) if a < b
    } yield (a, b)
    val hitTwin = expected.count(pairs.contains)
    assert(hitTwin.toDouble / expected.size >= 0.9,
      s"recall ${hitTwin.toDouble / expected.size} over ${expected.size} twin pairs")
    val falsePos = pairs.filterNot { case (a, b) =>
      a / 4 == b / 4 && isTwin(a) && isTwin(b)
    }
    assert(falsePos.isEmpty, s"cross-family pairs surfaced: $falsePos")
  }

  test("q186 incremental equals the full run restricted to batch-touching pairs") {
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val store = Multimodal.audioPayloads(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    val batch = Multimodal.audioPayloads(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val path = s"/tmp/graft_afidx_spec_pid${ProcessHandle.current().pid()}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(path))
    Multimodal.Audio.persist(store, path)
    val full = Multimodal
      .Audio.pairs(Multimodal.audioPayloads(docs), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if a % 5 == 0 || b % 5 == 0 =>
        if (a % 5 == 0) (a, b) else (b, a)
    }
    val inc = Multimodal.Audio.incrementalPairs(spark, batch, path, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def norm(p: (Long, Long)) =
      if (p._1 % 5 == 0 && p._2 % 5 == 0)
        (math.min(p._1, p._2), math.max(p._1, p._2)) else p
    assert(inc.map(norm) == expected.map(norm),
      s"missing=${(expected.map(norm) -- inc.map(norm)).take(5)} " +
        s"spurious=${(inc.map(norm) -- expected.map(norm)).take(5)}")
    assert(inc.nonEmpty, "fixture must exercise batch-touching pairs")
    rm(new java.io.File(path))
  }

  test("fingerprint is total: short, silent, and non-WAV payloads return None, never throw") {
    assert(Multimodal.audioFingerprint64("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.audioFingerprint64(
      Multimodal.synthWav(8000, 1, 16, frames = 10)).isEmpty) // sub-segment
    // silence decodes fine and fingerprints as all-false comparisons
    val silent = Multimodal.audioFingerprint64(Multimodal.synthWav(8000, 1, 16, 4000))
    assert(silent.contains(0L))
  }
}
