package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.queries.{Dedup, DedupStore, Extras, Tables}

/** Cross-modal duplicate families (q191): the component assignment must
  * equal a direct union-find over the four per-modality pair sets, and
  * must merge docs whose TEXT is unrelated through their media edges —
  * the case no single-modality dedup can see.
  */
class CrossModalSpec extends SparkSpec {

  test("q191 equals a direct union-find over the union graph; image families merge text-unrelated docs") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val text = pairs(Dedup.minhashPairs(docs, 0.7))
    val img = pairs(Multimodal.Image.pairs(Multimodal.imagePayloads(docs), 8))
    val aud = pairs(Multimodal.Audio.pairs(Multimodal.audioPayloads(docs), 4))
    val vid = pairs(Multimodal.Video.pairs(Multimodal.videoPayloads(docs), 8, 0.5))

    // reference: plain union-find over the collected union graph
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (text ++ img ++ aud ++ vid).foreach { case (a, b) => union(a, b) }
    val want = ids.map(i => (find(i), i))

    val got = Extras.crossModalComponents(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} spurious=${(got -- want).take(5)}")

    // the load-bearing semantic: an image family whose members share NO
    // text edge still folds into one component (imagePayloads variants
    // 0/1/2 of family f share a pattern; the fixture text is word soup)
    val mediaOnly = img.filter { case (a, b) =>
      find(a) == find(b) && !text.contains((a, b)) && !text.contains((b, a))
    }
    assert(mediaOnly.nonEmpty, "fixture must exercise media-only merges")
    val compOf = got.map { case (c, d) => d -> c }.toMap
    mediaOnly.foreach { case (a, b) =>
      assert(compOf(a) == compOf(b),
        s"image edge ($a,$b) must merge despite unrelated text")
    }
  }

  /** Full-corpus sf0.001 indexes (text + the three media arms), built
    * once for the stored-edge and survivor-pair cases.
    */
  private lazy val fullIndexDir: String = {
    val docs = Tables(spark, Bench.WarmupDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-xmfull").toString
    DedupStore.persistBandIndex(docs, s"$dir/text")
    Multimodal.Image.persist(Multimodal.imagePayloads(docs), s"$dir/img")
    Multimodal.Audio.persist(Multimodal.audioPayloads(docs), s"$dir/aud")
    Multimodal.Video.persist(Multimodal.videoPayloads(docs), s"$dir/vid")
    dir
  }

  test("stored-index edge arms are row-identical to the in-memory kernels (the q191 rebuild's probe form)") {
    val docs = Tables(spark, Bench.WarmupDir, "documents")
    val dir = fullIndexDir
    val stored = Extras.crossModalEdgesStored(
      spark, s"$dir/text", s"$dir/img", s"$dir/aud", s"$dir/vid")
    val mem = Extras.crossModalEdges(docs)
    assert(stored.exceptAll(mem).count() == 0 && mem.exceptAll(stored).count() == 0,
      "stored-index edge union must equal the in-memory kernels row-for-row")
  }

  test("survivor pairs over each persisted media index equal the in-memory pairs among the survivors") {
    val docs = Tables(spark, Bench.WarmupDir, "documents")
    val survivors = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0).select(col("doc_id"))
    val kept = survivors.collect().map(_.getLong(0)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((m, arm, maxHamming) <- Seq(
        (Multimodal.Image, "img", 8), (Multimodal.Audio, "aud", 4), (Multimodal.Video, "vid", 8))) {
      val all = pairs(m.pairs(m.payloads(docs), maxHamming))
      val want = all.filter { case (a, b) => kept(a) && kept(b) }
      assert(want.nonEmpty && want.size < all.size,
        s"${m.name}: the survivor set must keep some pairs and cut others")
      val got = pairs(m.survivorPairs(
        spark, s"$fullIndexDir/$arm", survivors, maxHamming, minOverlap = 0.5, broadcast(_)))
      assert(got == want,
        s"${m.name}: missing=${(want -- got).take(5)} spurious=${(got -- want).take(5)}")
    }
  }

  test("q192 lifecycle: incremental equals rebuild, absorb persists it, retract splits a forgotten bridge") {
    import graft.pipeline.CrossModal
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_life").toString
    val text = s"$root/text"
    val img = s"$root/img"
    val aud = s"$root/aud"
    val vid = s"$root/vid"
    DedupStore.persistBandIndex(corpus, text)
    Multimodal.Image.persist(Multimodal.imagePayloads(corpus), img)
    Multimodal.Audio.persist(Multimodal.audioPayloads(corpus), aud)
    Multimodal.Video.persist(Multimodal.videoPayloads(corpus), vid)
    val src = CrossModal.EdgeSources(text, img, aud, videoIndexPath = Some(vid))
    val xm = s"$root/xm"
    CrossModal.persist(corpus, xm)

    def assignSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("component", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // INCREMENTAL ≡ REBUILD: day-N store + batch edges = the q191 fold
    // over corpus ∪ batch, bit for bit
    val inc = assignSet(CrossModal.incremental(spark, batch, xm, src))
    val rebuild = assignSet(Extras.crossModalComponents(docs))
    assert(inc == rebuild,
      s"missing=${(rebuild -- inc).take(5)} spurious=${(inc -- rebuild).take(5)}")

    // ABSORB: the store mutation leaves assignment ≡ rebuild and the
    // three modality indexes grown by exactly the batch
    CrossModal.absorb(spark, batch, xm, src)
    assert(assignSet(CrossModal.readAssignment(spark, xm)) == rebuild,
      "absorb must persist the incremental assignment")
    val incAfter = assignSet(CrossModal.incremental(
      spark, batch.limit(0), xm, src))
    assert(incAfter == rebuild, "an empty day must be a fixed point")

    // RETRACT with bridge-split: forget docs and require the stored
    // assignment to equal the q191 rebuild WITHOUT them — any family
    // held together only by a forgotten doc must fall apart
    val td = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val tdIds = td.select(col("doc_id"))
    CrossModal.retract(spark, tdIds, xm, src)
    val after = assignSet(CrossModal.readAssignment(spark, xm))
    val want = assignSet(Extras.crossModalComponents(
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)))
    assert(after == want,
      s"retract must equal the rebuild without the forgotten docs: " +
        s"missing=${(want -- after).take(5)} spurious=${(after -- want).take(5)}")
    // the bridge case is real in this fixture: some pair of docs must
    // have LOST their shared family to the forget (they were connected
    // only through a forgotten doc)
    val beforeComp = rebuild.map { case (c, d) => d -> c }.toMap
    val afterComp = after.map { case (c, d) => d -> c }.toMap
    val splitPairs = for {
      (d1, c1) <- afterComp.toSeq
      (d2, c2) <- afterComp.toSeq
      if d1 < d2 && beforeComp(d1) == beforeComp(d2) && c1 != c2
    } yield (d1, d2)
    assert(splitPairs.nonEmpty,
      "fixture must exercise a bridge split (a family parted by the forget)")
  }

  test("video bridge: reposted clip + caption near-dup chain one family; forgetting the repost splits it") {
    import graft.pipeline.CrossModal
    val s = spark
    import s.implicits._
    // ids chosen so the ONLY cross-doc media edge is the video arm:
    // video families are id/16 (16 and 20 share family 1; variants 0 =
    // base clip, 1 = brightness-shifted repost) while image/audio
    // families are id/4 (16 → 4, 20 → 5, 41 → 10 — all distinct, no
    // edge), and 41 is not a video (41 % 4 != 0). The repost's caption
    // near-dups doc 41's text; the base clip's text is unrelated soup.
    val soup = (1 to 40).map(i => s"w${i * 37 % 101}q$i").mkString(" ")
    val cap = ("the launch event recap video with full keynote highlights " +
      "and demo segments plus audience questions ") * 3
    val docs = Seq((16L, soup), (20L, cap), (41L, cap)).toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") =!= 20L)
    val batch = docs.filter(col("doc_id") === 20L)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_vbridge").toString
    DedupStore.persistBandIndex(corpus, s"$root/text")
    Multimodal.Image.persist(Multimodal.imagePayloads(corpus), s"$root/img")
    Multimodal.Audio.persist(Multimodal.audioPayloads(corpus), s"$root/aud")
    Multimodal.Video.persist(Multimodal.videoPayloads(corpus), s"$root/vid")
    val src = CrossModal.EdgeSources(
      s"$root/text", s"$root/img", s"$root/aud",
      videoIndexPath = Some(s"$root/vid"))
    val xm = s"$root/xm"
    CrossModal.persist(corpus, xm)

    def assign(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("doc_id", "component")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // pre-batch: no edges between the base clip and the caption doc
    val before = assign(CrossModal.readAssignment(spark, xm))
    assert(before == Map(16L -> 16L, 41L -> 41L), s"pre-batch drifted: $before")

    // the repost bridges: 20–16 rides the video arm alone, 20–41 the
    // text arm alone — one family no single modality can assemble
    CrossModal.absorb(spark, batch, xm, src)
    val joined = assign(CrossModal.readAssignment(spark, xm))
    assert(joined == Map(16L -> 16L, 20L -> 16L, 41L -> 16L),
      s"video bridge must chain all three docs: $joined")

    // forgetting the bridge doc splits the family exactly in two
    CrossModal.retract(spark, Seq(20L).toDF("doc_id"), xm, src)
    val after = assign(CrossModal.readAssignment(spark, xm))
    assert(after == Map(16L -> 16L, 41L -> 41L),
      s"forgetting the repost must part the family: $after")
  }

  test("q196 gauge: all-zero on a healthy store; a planted desync names the drifted arm with exact counts") {
    import graft.pipeline.CrossModal
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 200 && pmod(col("doc_id"), lit(5)) =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft_q196").toString
    val (text, img, aud, vid, xm) =
      (s"$root/text", s"$root/img", s"$root/aud", s"$root/vid", s"$root/xm")
    DedupStore.persistBandIndex(corpus, text)
    Multimodal.Image.persist(Multimodal.imagePayloads(corpus), img)
    Multimodal.Audio.persist(Multimodal.audioPayloads(corpus), aud)
    Multimodal.Video.persist(Multimodal.videoPayloads(corpus), vid)
    CrossModal.persist(corpus, xm)

    def gauge(): Map[String, (Long, Long, Long, Long)] =
      Extras.mediaStoreSync(
          Extras.mediaStoreSyncRows(spark, xm, text, img, aud, vid))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap

    val healthy = gauge()
    assert(healthy.keySet == Set("assignment", "text_bands", "image_bands",
      "audio_bands", "video_frames", "video_counts"))
    healthy.foreach { case (arm, (_, dups, _, orphans)) =>
      assert(dups == 0L && orphans == 0L,
        s"healthy store must gauge all-zero, $arm had dups=$dups orphans=$orphans")
    }

    // PLANT a desync: a replayed image append (3 docs × 4 band rows of
    // exact duplicates) and a ghost audio absorb of 2 docs the assignment
    // never saw (the crash-between-appends state)
    val dupDocs = corpus.orderBy("doc_id").limit(3)
    Multimodal.Image.appendTo(Multimodal.imagePayloads(dupDocs), img)
    val ghosts = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .orderBy("doc_id").limit(2)
    Multimodal.Audio.appendTo(Multimodal.audioPayloads(ghosts), aud)

    val drifted = gauge()
    assert(drifted("image_bands")._2 == 12L && drifted("image_bands")._4 == 0L,
      s"image arm must show exactly the 12 replayed rows: ${drifted("image_bands")}")
    assert(drifted("audio_bands")._2 == 0L && drifted("audio_bands")._4 == 2L,
      s"audio arm must show exactly the 2 ghost ids: ${drifted("audio_bands")}")
    Seq("assignment", "text_bands", "video_frames", "video_counts").foreach { arm =>
      assert(drifted(arm)._2 == 0L && drifted(arm)._4 == 0L,
        s"untouched arm $arm must stay all-zero: ${drifted(arm)}")
    }
  }
}
