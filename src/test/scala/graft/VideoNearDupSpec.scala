package graft

import graft.multimodal.Multimodal

/** Planted-family recall/precision for the video near-dup tier (q89):
  * [[Multimodal.videoPayloads]] builds families of 4 on even doc_ids
  * (base, brightness re-render, trimmed cut, unrelated control);
  * [[Multimodal.Video.pairs]] must connect the three variants — trim
  * included, via min-side overlap — and nothing else.
  */
class VideoNearDupSpec extends SparkSpec {

  import spark.implicits._

  test("frame extraction round-trips synthesis: count, order, and pixel content") {
    val seeds = (0 until Multimodal.VideoFrames).map(f => 1234L * 31 + f)
    val frames = Multimodal.videoFrames(Multimodal.synthVideo(seeds)).get
    assert(frames.length == Multimodal.VideoFrames, s"got ${frames.length} frames")
    for ((frame, i) <- frames.zipWithIndex) {
      val direct = Multimodal.dHash64(Multimodal.synthImage(seeds(i))).get
      assert(Multimodal.dHash64(frame).contains(direct),
        s"frame $i hash diverged from its direct render")
    }
    // the container still reads as a real MP4 (duration from mvhd)
    val meta = Multimodal.decodeMp4(7L, Multimodal.synthVideo(seeds)).get
    assert(meta.duration_ms == Multimodal.VideoFrames * 100L * 1000L / 600L)
  }

  test("extraction is total: non-MP4 is None, frameless MP4 is empty, truncation keeps whole frames") {
    assert(Multimodal.videoFrames("not a video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.videoFrames(Multimodal.synthMp4(600, 100)).contains(Nil))
    val full = Multimodal.synthVideo(Seq(11L, 22L, 33L))
    val cut = java.util.Arrays.copyOfRange(full, 0, full.length - 10)
    val kept = Multimodal.videoFrames(cut).get
    assert(kept.length == 2, s"truncated tail should drop only the torn frame, kept ${kept.length}")
    assert(kept.forall(f => Multimodal.dHash64(f).isDefined))
  }

  test("banded pipeline connects base/brightness/trim variants and nothing else") {
    val nIds = 480L // every 4th id → 30 families of (base, bright, trim, control)
    val docs = (0L until nIds).map(id => (id, s"doc $id text")).toDF("doc_id", "text")
    val rows = Multimodal.Video.pairs(
        Multimodal.videoPayloads(docs), maxHamming = 8, minOverlap = 0.5)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    def variant(id: Long) = (id / 4) % 4
    val expected = for {
      fam <- 0L until (nIds / 16)
      a <- Seq(fam * 16, fam * 16 + 4, fam * 16 + 8) // variants 0, 1, 2
      b <- Seq(fam * 16, fam * 16 + 4, fam * 16 + 8) if a < b
    } yield (a, b)
    val hit = expected.count(rows.contains)
    assert(hit.toDouble / expected.size >= 0.9,
      s"recall ${hit.toDouble / expected.size} over ${expected.size} variant pairs")
    // precision: no pair may cross families or touch a control/text row
    val falsePos = rows.keySet.filterNot { case (a, b) =>
      a / 16 == b / 16 && variant(a) != 3 && variant(b) != 3 && a % 4 == 0 && b % 4 == 0
    }
    assert(falsePos.isEmpty, s"unexpected pairs surfaced: $falsePos")
    // trim robustness: base↔trim overlap must be 1.0 on the min side
    val trimPairs = expected.filter { case (a, b) => variant(b) == 2 && rows.contains((a, b)) }
    assert(trimPairs.nonEmpty)
    for (p <- trimPairs) assert(rows(p) == 1.0, s"pair $p overlap ${rows(p)} != 1.0")
  }

  test("q187 incremental equals the full run restricted to batch-touching pairs") {
    import org.apache.spark.sql.functions._
    val nIds = 480L
    val docs = (0L until nIds).map(id => (id, s"doc $id text")).toDF("doc_id", "text")
    val store = Multimodal.videoPayloads(docs.filter(col("doc_id") % 5 =!= 0))
    val batch = Multimodal.videoPayloads(docs.filter(col("doc_id") % 5 === 0))
    val path = s"/tmp/graft_vfidx_spec_pid${ProcessHandle.current().pid()}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(path))
    Multimodal.Video.persist(store, path)
    val full = Multimodal
      .Video.pairs(Multimodal.videoPayloads(docs), maxHamming = 8, minOverlap = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if a % 5 == 0 || b % 5 == 0 =>
        if (a % 5 == 0) (a, b) else (b, a)
    }
    val inc = Multimodal
      .Video.incrementalPairs(spark, batch, path, maxHamming = 8, minOverlap = 0.5)
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
}
