package graft

import org.apache.spark.sql.functions._

/** Value-level cross-checks for the dedup paths the DuckDB oracle cannot
  * recompute (hashed kernels, minhash banding): each scale-path form is
  * pinned row-identical to its oracle-checked (or deterministically
  * equivalent) twin on the testdata corpora.
  */
class DedupIndexSpec extends SparkSpec {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("hashed-shingle overlap matrix matches the string-shingle form (q65) row for row") {
    // the promised 100 TB swap: 8-byte hashed shingle keys must produce the
    // SAME source×source shared counts as the oracle-checked string form
    for (d <- dirs) {
      val strForm = SparkEntry.queries("q65_source_overlap")(spark, d).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val hashForm = graft.queries.Dedup
        .hashedOverlap(graft.queries.Tables(spark, d, "documents"))
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(hashForm == strForm, s"$d: hashed=$hashForm vs string=$strForm")
    }
  }

  test("hashed duplicated-span stats match the string-window form (q75) row for row") {
    // same contract as the overlap/decontam twins: 8-byte window hashes
    // must reproduce the oracle-checked q75 numbers exactly (n_win AND
    // n_shared — a hash collision would break either)
    for (d <- dirs) {
      val strForm = SparkEntry.queries("q75_dup_spans")(spark, d).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val hashForm = graft.queries.Dedup
        .hashedDupSpans(graft.queries.Tables(spark, d, "documents"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(hashForm == strForm, s"$d: hashed and string span stats diverge")
    }
  }

  test("incremental band-index dedup equals the whole-corpus pair set restricted to the batch") {
    // q66's contract: probing the persisted index with the new batch finds
    // EXACTLY the pairs a full q33-style run over the whole corpus finds
    // that touch the batch — (old, new) crossings AND (new, new)
    // within-batch duplicates — with no old doc rescanned. Old-old pairs
    // are excluded by construction (they were the PREVIOUS dedup's job).
    for (d <- dirs) {
      val docs = graft.queries.Tables(spark, d, "documents")
      val newIds = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val full = graft.queries.Dedup.minhashPairs(docs, threshold = 0.7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // at least one endpoint in the new batch — everything q66 must see
        .filter { case (a, b, _) => newIds.contains(a) || newIds.contains(b) }
        .map { case (a, b, j) => ((a min b, a max b), j) }.toMap
      val inc = SparkEntry.queries("q66_dedup_incremental")(spark, d).collect()
        .map { r =>
          val (n, e) = (r.getLong(0), r.getLong(1))
          ((n min e, n max e), r.getDouble(2))
        }.toMap
      assert(inc == full, s"$d: incremental=$inc vs restricted-full=$full")
      assert(inc.keySet.forall { case (a, b) =>
        newIds.contains(a) || newIds.contains(b) }, "every pair must touch the batch")
      // the within-batch arm alone: pairs with both endpoints in the batch
      def withinBatch(m: Map[(Long, Long), Double]) =
        m.filter { case ((a, b), _) => newIds.contains(a) && newIds.contains(b) }
      assert(withinBatch(inc) == withinBatch(full), s"$d: within-batch arm diverges")
      // the other stored arms of the banded-jaccard body, over q66's own
      // persisted index: the whole-index self-join equals a full run over
      // the indexed docs ...
      val indexed = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val path = graft.queries.DedupStore.bandIndexFor(indexed, d)
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val stored = pairs(graft.queries.DedupStore.storedMinhashPairs(spark, path, 0.7))
      assert(stored == pairs(graft.queries.Dedup.minhashPairs(indexed, threshold = 0.7)),
        s"$d: stored-index pairs diverge from the full run over the indexed docs")
      assert(stored.keySet.forall { case (a, b) => a < b }, s"$d: pairs must be a < b")
      // ... and the survivor-restricted form is exactly that pair set with
      // both endpoints among the survivors
      val survivors = indexed.filter(pmod(col("doc_id"), lit(7)) =!= 0).select("doc_id")
      val surv = graft.queries.DedupStore
        .survivorTextPairs(spark, path, survivors, 0.7, identity)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val restricted = stored.keySet.filter { case (a, b) => a % 7 != 0 && b % 7 != 0 }
      assert(surv == restricted, s"$d: survivor pairs=$surv vs restricted=$restricted")
      assert(restricted.size < stored.size, s"$d: the survivor set must cut some pairs")
    }
  }

  test("appendToBandIndex: day-N+1 sees day-N docs without a rebuild") {
    // Three-day lifecycle on sf0.001: index day-0 corpus, absorb day-1's
    // batch via APPEND (no rewrite), then probe with day-2. Day-2's pairs
    // must cover crossings into BOTH day-0 and day-1 plus day-2's own
    // within-batch duplicates — i.e. the whole-corpus pair set restricted
    // to pairs touching day-2.
    val d = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables(spark, d, "documents")
    val day0 = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val day1 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val day2 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val day2Ids = day2.select("doc_id").collect().map(_.getLong(0)).toSet
    val path = java.nio.file.Files
      .createTempDirectory("graft_append_idx").toString + "/idx"
    graft.queries.DedupStore.persistBandIndex(day0, path)
    graft.queries.DedupStore.appendToBandIndex(day1, path)
    val inc = graft.queries.DedupStore
      .incrementalMinhashPairs(spark, day2, path, threshold = 0.7)
      .collect()
      .map { r =>
        val (n, e) = (r.getLong(0), r.getLong(1))
        ((n min e, n max e), r.getDouble(2))
      }.toMap
    val full = graft.queries.Dedup.minhashPairs(docs, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => day2Ids.contains(a) || day2Ids.contains(b) }
      .map { case (a, b, j) => ((a min b, a max b), j) }.toMap
    assert(inc == full, s"after append: incremental=$inc vs restricted-full=$full")
  }

  test("incremental component merge equals a from-scratch run over corpus + batch") {
    // q110's contract: stored day-N assignment + batch pairs → EXACTLY the
    // assignment a full rerun over corpus ∪ batch computes. Compared
    // against the banded from-scratch run (not the exact-jaccard oracle)
    // so the check is independent of banding recall.
    for (d <- dirs) {
      val docs = graft.queries.Tables(spark, d, "documents")
      val scratch = graft.operators.ConnectedComponents.run(
          docs.select(col("doc_id").as("id")),
          graft.queries.Dedup.minhashPairs(docs, threshold = 0.7)
            .select(col("a").as("src"), col("b").as("dst")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inc = SparkEntry.queries("q110_incremental_components")(spark, d).collect()
        .map(r => r.getLong(1) -> r.getLong(0)).toMap
      assert(inc == scratch, s"$d: incremental merge diverges from from-scratch " +
        s"(first diffs: ${(inc.toSet diff scratch.toSet).take(5)})")
    }
  }

  test("incremental manifest equals the from-scratch q97 rebuild (keep flags included)") {
    // q112's contract at manifest granularity: pass-through + re-ranked
    // splice must be row-identical (cluster, n_chars, keep) to a full
    // dedupManifest rebuild over corpus ∪ batch — compared against the
    // banded rebuild so the check is independent of banding recall.
    for (d <- dirs) {
      val docs = graft.queries.Tables(spark, d, "documents")
      val scratch = graft.queries.Dedup.dedupManifest(docs, threshold = 0.7)
        .collect().map(_.toSeq).toSeq
      val inc = SparkEntry.queries("q112_incremental_manifest")(spark, d).collect()
        .map(_.toSeq).toSeq
      assert(inc == scratch, s"$d: incremental manifest diverges from rebuild " +
        s"(first diffs: ${(inc.toSet diff scratch.toSet).take(5)})")
    }
  }

  test("three-day absorb lifecycle: day-over-day incremental manifests equal from-scratch rebuilds") {
    // The full production loop: index day-0, then for each later day
    // compute the incremental manifest, WRITE IT BACK as the new store,
    // and absorb the batch's bands — day N+1 dedups against everything
    // absorbed so far without any old doc rescanned. At every day
    // boundary the store must equal a from-scratch rebuild over all docs
    // seen so far.
    val d = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables(spark, d, "documents")
    val day0 = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val day1 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val day2 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val upTo1 = day0.unionByName(day1)
    val path = java.nio.file.Files
      .createTempDirectory("graft_absorb_idx").toString + "/idx"
    graft.queries.DedupStore.persistBandIndex(day0, path)
    graft.queries.DedupStore.persistComponents(day0, path, threshold = 0.7)

    graft.queries.DedupStore.absorbBatch(spark, day1, upTo1, path, threshold = 0.7)
    val afterDay1 = spark.read.parquet(s"$path/manifest_bp7000")
      .select(col("doc_id"), col("component"), col("n_chars"), col("keep"))
      .collect().map(_.toSeq).toSet
    val scratch1 = graft.queries.Dedup.dedupManifest(upTo1, threshold = 0.7)
      .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("keep"))
      .collect().map(_.toSeq).toSet
    assert(afterDay1 === scratch1, "day-1 store must equal the from-scratch rebuild")

    val m2 = graft.queries.DedupStore
      .incrementalManifest(spark, day2, docs, path, threshold = 0.7)
      .collect().map(_.toSeq).toSeq
    val scratch2 = graft.queries.Dedup.dedupManifest(docs, threshold = 0.7)
      .collect().map(_.toSeq).toSeq
    assert(m2 === scratch2,
      "day-2 incremental manifest over the absorbed store must equal the full rebuild")
  }

  test("incremental merge bridges two stored components through a batch doc") {
    import spark.implicits._
    // The hard case a corpus-restricted equality test can miss: a batch doc
    // near-dup of members of TWO distinct stored components must merge
    // them into one, labeled by the global min id. Block construction
    // (A=60, B=20, C=20 tokens): T1=A·B and T2=A·C share j≈0.59 (< 0.7,
    // separate components); W=A·B·C has j≈0.80 with T1 and j≈0.76 with T2
    // (both ≥ 0.7, both well inside banding recall).
    val a = (0 until 60).map(i => s"a$i")
    val b = (0 until 20).map(i => s"b$i")
    val c = (0 until 20).map(i => s"c$i")
    val t1 = (a ++ b).mkString(" ")
    val t2 = (a ++ c).mkString(" ")
    val w = (a ++ b ++ c).mkString(" ")
    val uniq1 = (0 until 40).map(i => s"u$i").mkString(" ")
    val uniq2 = (0 until 40).map(i => s"v$i").mkString(" ")
    val corpus = Seq((1L, t1), (2L, t1), (3L, t2), (4L, t2), (7L, uniq1))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val batch = Seq((0L, w), (5L, uniq2)).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))

    val path = java.nio.file.Files
      .createTempDirectory("graft_comp_idx").toString + "/idx"
    graft.queries.DedupStore.persistBandIndex(corpus, path)
    graft.queries.DedupStore.persistComponents(corpus, path, threshold = 0.7)
    // day-N state must be two separate components before the batch arrives
    val stored = spark.read.parquet(s"$path/manifest_bp7000")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 7L -> 7L))

    val merged = graft.queries.DedupStore
      .incrementalComponentMerge(spark, batch, path, threshold = 0.7)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(merged === Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 5L, 7L -> 7L),
      s"bridge doc 0 must merge components {1,2} and {3,4} under label 0: $merged")

    // and the merge equals the from-scratch run over corpus ∪ batch
    val all = corpus.unionByName(batch)
    val scratch = graft.operators.ConnectedComponents.run(
        all.select(col("doc_id").as("id")),
        graft.queries.Dedup.minhashPairs(all, threshold = 0.7)
          .select(col("a").as("src"), col("b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === scratch)

    // the incremental MANIFEST agrees with a from-scratch rebuild over
    // corpus ∪ batch, and the merged cluster keeps the longest doc (W,
    // doc 0 — which also happens to be the min id; the keep flags prove
    // the re-rank saw the batch doc's n_chars)
    val incManifest = graft.queries.DedupStore
      .incrementalManifest(spark, batch, all, path, threshold = 0.7)
      .collect().map(r => r.getLong(1) -> (r.getLong(0), r.getInt(3))).toMap
    val scratchManifest = graft.queries.Dedup.dedupManifest(all, threshold = 0.7)
      .collect().map(r => r.getLong(1) -> (r.getLong(0), r.getInt(3))).toMap
    assert(incManifest === scratchManifest)
    assert(incManifest(0L) === ((0L, 1)), "the bridge doc (longest) must be the keeper")
    assert(Seq(1L, 2L, 3L, 4L).forall(incManifest(_)._2 == 0),
      "every other member of the merged cluster must lose")
  }

  test("exact-dedup lifecycle: first-seen-wins across days, append absorbs only novel fingerprints") {
    import spark.implicits._
    val a = "alpha text one"; val b = "beta text two"
    val c = "gamma text three"; val d0 = "delta text four"
    val corpus = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_exact_idx").toString + "/idx"
    graft.queries.DedupStore.persistExactIndex(corpus, path)

    // day 1: repost of A resolves to the stored keeper even though 5 > 1;
    // two copies of novel C dedup within-batch to the min id
    val day1 = Seq((5L, a), (6L, c), (7L, c)).toDF("doc_id", "text")
    val r1 = graft.queries.DedupStore.incrementalExactDedup(spark, day1, path)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(r1 === Map(5L -> ((1L, 1)), 6L -> ((6L, 0)), 7L -> ((6L, 1))), r1.toString)

    graft.queries.DedupStore.appendToExactIndex(spark, day1, path)
    // only C appended (A was known): the store stays one row per fp
    val store = spark.read.parquet(s"$path/exact_fp")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(store.size === 3, s"store must hold fps of A, B, C only: $store")

    // day 2: a repost of C resolves to day-1's keeper (first-seen-wins
    // across days — id 4 < 6 does NOT steal the canon); D is novel
    val day2 = Seq((4L, c), (11L, d0)).toDF("doc_id", "text")
    val r2 = graft.queries.DedupStore.incrementalExactDedup(spark, day2, path)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(r2 === Map(4L -> ((6L, 1)), 11L -> ((11L, 0))), r2.toString)
  }

  test("degenerate-bucket cap: no-op above the real max, drops a planted boilerplate bucket") {
    import spark.implicits._
    // cap far above any real bucket: the guarded plan must produce the
    // IDENTICAL pair set (the cap is a pure safety net on clean corpora)
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val uncapped = graft.queries.Dedup.minhashPairs(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = graft.queries.Dedup
      .minhashPairs(docs, threshold = 0.7, maxBucketSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === uncapped, "a cap above every bucket size must be a no-op")

    // planted boilerplate: 12 IDENTICAL docs collide on every band (one
    // 12-member bucket per band) plus one true near-dup pair elsewhere.
    // cap=8 drops the boilerplate buckets entirely — the quadratic stage
    // never materializes — while the ordinary pair still surfaces.
    val boiler = (0 until 32).map(i => s"tpl${i}").mkString(" ")
    val base = (0 until 32).map(i => s"doc${i}").mkString(" ")
    val nearDup = (0 until 32).map(i => if (i == 16) "MUT" else s"doc${i}").mkString(" ")
    val planted = ((0 until 12).map(i => (i.toLong, boiler)) ++
      Seq((100L, base), (101L, nearDup))).toDF("doc_id", "text")
    val guarded = graft.queries.Dedup
      .minhashPairs(planted, threshold = 0.7, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((100L, 101L)),
      s"cap=8 must drop the 12-member boilerplate buckets, keep the real pair: $guarded")
    // and uncapped on the same data finds all 66 boilerplate pairs + 1
    val full = graft.queries.Dedup.minhashPairs(planted, threshold = 0.7).count()
    assert(full === 67L, s"uncapped must see 66 boilerplate pairs + 1, got $full")
  }

  test("compaction: content-identical, probe-identical, and actually defragments") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.queries.Tables(spark, d, "documents")
    // three "days" of appends fragment the store the way production does
    val day = (m: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === m)
    val src = java.nio.file.Files.createTempDirectory("graft-bandidx-frag").toString
    graft.queries.DedupStore.persistBandIndex(day(0), src)
    graft.queries.DedupStore.appendToBandIndex(day(1), src)
    graft.queries.DedupStore.appendToBandIndex(day(2), src)
    val dst = java.nio.file.Files.createTempDirectory("graft-bandidx-compact").toString
    graft.queries.DedupStore.compactBandIndex(spark, src, dst)

    // 1. content identity: band rows and shingle sets are EXACTLY preserved
    def bandSet(p: String) = spark.read.parquet(s"$p/bands")
      .select("band", "bhash", "doc_id").collect().map(_.toSeq).toSet
    assert(bandSet(dst) === bandSet(src), "compaction changed the band rows")
    def shSet(p: String) = spark.read.parquet(s"$p/shingles")
      .select(col("doc_id"), col("sh")).collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).toSet)).toSet
    assert(shSet(dst) === shSet(src), "compaction changed the shingle sets")

    // 2. defragmentation: strictly fewer parquet files than the 3-day store
    def nFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    assert(nFiles(dst) < nFiles(src),
      s"compaction must shrink the file count (src=${nFiles(src)}, dst=${nFiles(dst)})")

    // 3. probe identity: a batch probed against the compacted copy finds
    // the exact pair set the fragmented store finds (the q129 contract;
    // the probe batch is deliberately NOT any of the absorbed days)
    val probe = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    def pairs(p: String) = graft.queries.DedupStore
      .incrementalMinhashPairs(spark, probe, p, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(dst) === pairs(src), "compaction changed probe results")
  }

  test("full three-tier pipeline agrees with every stand-alone stage") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.queries.Tables(spark, d, "documents")
    val full = graft.queries.Dedup.fullDedupPipeline(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    // tier + canonical must be q122's disposition verbatim
    val tiers = graft.queries.Dedup.dedupTiers(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(full.keySet == tiers.keySet)
    full.foreach { case (id, (tier, canon, _, _)) =>
      assert(tiers(id) == ((tier, canon)), s"doc $id: disposition diverged from q122")
    }

    // keepers' paragraph stats must be q107-over-keepers verbatim;
    // removed docs carry the -1 sentinel
    val keepers = docs.join(
      graft.queries.Dedup.dedupTiers(docs)
        .filter(org.apache.spark.sql.functions.col("tier") === "keep")
        .select("doc_id"), "doc_id")
    val para = graft.queries.Dedup.paragraphDedup(keepers).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    full.foreach { case (id, (tier, _, nPar, nDropped)) =>
      if (tier == "keep")
        assert(para(id) == ((nPar, nDropped)), s"keeper $id: paragraph stats diverged")
      else
        assert(nPar == -1L && nDropped == -1L, s"removed doc $id must carry -1 sentinels")
    }
  }

  test("banding recall audit: exact accounting on planted dup and no-dup corpora") {
    val spark0 = spark
    import spark0.implicits._
    // three verbatim copies -> 3 true pairs, all caught (j = 1.0 always
    // survives any banding), recall 10000
    val dup = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "completely different words entirely here now truly")
    ).toDF("doc_id", "text")
    val r1 = graft.queries.Dedup.bandingRecallAudit(dup).collect()(0)
    assert(r1.toSeq === Seq(4L, 3L, 3L, 10000L), s"got ${r1.toSeq}")

    // no true pairs -> the 10000 sentinel, not a division by zero
    val none = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")
    ).toDF("doc_id", "text")
    val r2 = graft.queries.Dedup.bandingRecallAudit(none).collect()(0)
    assert(r2.toSeq === Seq(2L, 0L, 0L, 10000L), s"got ${r2.toSeq}")
  }

  test("store invariants: bands/shingles/exact-fp artifacts are mutually consistent") {
    // the cross-artifact consistency a daily pipeline should be able to
    // assert about its dedup stores at any time: every indexed doc has
    // exactly its 8 band rows and exactly one shingle set; the exact
    // index carries one row per distinct fingerprint with an in-corpus
    // keeper. A violated invariant means an append half-committed.
    val d = "/root/testdata/sf0.01"
    val corpus = graft.queries.Tables(spark, d, "documents")
      .filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val p = java.nio.file.Files.createTempDirectory("graft-store-inv").toString
    graft.queries.DedupStore.persistBandIndex(corpus, p)
    graft.queries.DedupStore.persistExactIndex(corpus, p)

    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet

    val bands = spark.read.parquet(s"$p/bands")
    assert(bands.count() == 8L * ids.size, "every doc must carry exactly 8 band rows")
    assert(bands.select("doc_id").distinct().collect().map(_.getLong(0)).toSet == ids)
    assert(bands.select("band").distinct().collect()
      .map(_.getAs[Number](0).intValue).toSet == (0 until 8).toSet)

    val shingles = spark.read.parquet(s"$p/shingles")
    assert(shingles.count() == ids.size.toLong, "exactly one shingle set per doc")
    assert(shingles.select("doc_id").collect().map(_.getLong(0)).toSet == ids)

    val exact = spark.read.parquet(s"$p/exact_fp")
    val nFps = corpus
      .select(graft.functions.Text.fingerprint(col("text")).as("fp"))
      .distinct().count()
    assert(exact.count() == nFps, "one store row per distinct fingerprint")
    assert(exact.select("fp").distinct().count() == nFps, "fp must be unique in the store")
    val keepers = exact.select("keep_id").collect().map(_.getLong(0)).toSet
    assert(keepers.subsetOf(ids), "every keeper must be an indexed doc")
  }

  test("index path fingerprints every banding parameter: any change forces a rebuild") {
    // the staleness guard: a binary with different banding parameters (or
    // kernel version) computes a DIFFERENT artifact path, so it can never
    // warm-reuse an incompatible on-disk index — it rebuilds at its own path
    val base = graft.queries.DedupStore.indexPathFor("/root/testdata/sf0.001")
    val variants = Seq(
      graft.queries.DedupStore.indexPathFor("/root/testdata/sf0.001", k = 4),
      graft.queries.DedupStore.indexPathFor("/root/testdata/sf0.001", numPerm = 64),
      graft.queries.DedupStore.indexPathFor("/root/testdata/sf0.001", numBands = 16),
      graft.queries.DedupStore.indexPathFor("/root/testdata/sf0.001", rowsPerBand = 2),
      graft.queries.DedupStore.indexPathFor("/root/testdata/sf0.001", kernelVersion = 2))
    variants.foreach(v => assert(v != base, s"parameter change must move the path: $v"))
    assert(variants.distinct.size == variants.size)
    // and the default path plus the corpus content tag is where the warm
    // q66 artifact actually lives (after any q66 run): the existence check
    // and the write target agree
    // (Bench.WarmupDir is this same sf0.001 fixture)
    val served = base + graft.queries.WarmStores.dirTag(spark, Bench.WarmupDir, "documents")
    SparkEntry.queries("q66_dedup_incremental")(spark, "/root/testdata/sf0.001").collect()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(served, "shingles", "_SUCCESS")),
      s"warm artifact must live at the fingerprinted path $served")
  }
}
