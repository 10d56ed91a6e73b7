package graft

import graft.ops.StoreSwap
import graft.queries.Curation
import org.apache.spark.sql.functions.sum

/** The house rename-aside swap: publish must be atomic-by-inspection and a
  * failed publish must never strand the live store at `.old` (the r12
  * advice: a caller retry after a transient step-2 failure would find the
  * store missing and turn a blip into an outage).
  */
class StoreSwapSpec extends SparkSpec {
  import spark.implicits._

  private def write(rows: Seq[Long], path: String): Unit =
    rows.toDF("v").write.mode("overwrite").parquet(path)

  private def read(path: String): Set[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSet

  test("swapInto publishes .next; a failed publish rolls the live store back") {
    val root = java.nio.file.Files.createTempDirectory("graft_swap").toString
    val p = s"$root/store"
    write(Seq(1L, 2L), p)
    write(Seq(3L, 4L), s"$p.next")
    StoreSwap.swapInto(spark, p)
    assert(read(p) == Set(3L, 4L), "swap must publish the staged version")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p.old")) &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p.next")),
      "swap must retire both transient dirs")

    // failure injection: no .next staged — step 2's rename fails AFTER the
    // live store was already set aside; the rollback must restore it
    val e = intercept[java.io.IOException](StoreSwap.swapInto(spark, p))
    assert(e.getMessage.contains("live store restored"), e.getMessage)
    assert(read(p) == Set(3L, 4L),
      "a failed publish must leave the live store readable at its path")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p.old")),
      "the rollback must not leave a live copy stranded at .old")
  }

  test("first publication tolerates a missing live dir") {
    val root = java.nio.file.Files.createTempDirectory("graft_swap0").toString
    val p = s"$root/store"
    write(Seq(7L), s"$p.next")
    StoreSwap.swapInto(spark, p)
    assert(read(p) == Set(7L))
  }

  // The crash window between swapInto's two renames, set up by hand on a
  // refcounted window store: its absorb is an append that never reads the
  // store, its compaction a rewrite.

  private def docs(ids: Seq[Int]) =
    ids.map(i => (i.toLong, s"alpha beta gamma delta epsilon doc$i zeta eta")).toDF("doc_id", "text")

  /** Net count per window: what the store holds, whatever its delta rows. */
  private def netCounts(store: org.apache.spark.sql.DataFrame): Map[String, Long] =
    store.groupBy("g").agg(sum("rc")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def expected(ids: Seq[Int]) = netCounts(Curation.refcountedWindowStore(docs(ids)))

  private def exists(path: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(path))

  /** swapInto died after step 1: the live store is at `.old`, `path` is gone. */
  private def crashMidSwap(path: String): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(path), java.nio.file.Paths.get(s"$path.old"))

  private def assertRecovered(path: String, ids: Seq[Int]): Unit = {
    assert(netCounts(spark.read.parquet(path)) == expected(ids), s"rows lost at $path")
    assert(!exists(s"$path.old") && !exists(s"$path.next"), "recovery must leave no .old/.next")
  }

  test("an append and a rewrite after a swap that died with no .next restore .old") {
    val p = java.nio.file.Files.createTempDirectory("graft_swap_crash").toString + "/store"
    Curation.absorbIntoRefcountedStore(spark, docs(0 until 6), p)
    crashMidSwap(p)
    Curation.absorbIntoRefcountedStore(spark, docs(6 until 9), p)
    assertRecovered(p, 0 until 9)
    crashMidSwap(p)
    Curation.compactRefcountedStore(spark, p)
    assertRecovered(p, 0 until 9)
    // a bootstrap probe must read the cut store as committed, not absent
    crashMidSwap(p)
    assert(StoreSwap.committed(spark, p), "a store cut mid-swap must still read as committed")
    assertRecovered(p, 0 until 9)
  }

  test("an append and a rewrite after a swap that died with .next committed publish .next") {
    val p = java.nio.file.Files.createTempDirectory("graft_swap_crash_next").toString + "/store"
    Curation.absorbIntoRefcountedStore(spark, docs(0 until 6), p)
    Curation.absorbIntoRefcountedStore(spark, docs(6 until 9), p)
    // a retract of the last batch was staged and committed when the swap died
    Curation.retractedRefcountedRows(spark, docs(6 until 9), p).write.parquet(s"$p.next")
    crashMidSwap(p)
    Curation.absorbIntoRefcountedStore(spark, docs(9 until 12), p)
    assertRecovered(p, (0 until 6) ++ (9 until 12))
    Curation.retractedRefcountedRows(spark, docs(9 until 12), p).write.parquet(s"$p.next")
    crashMidSwap(p)
    Curation.compactRefcountedStore(spark, p)
    assertRecovered(p, 0 until 6)
    Curation.retractedRefcountedRows(spark, docs(3 until 6), p).write.parquet(s"$p.next")
    crashMidSwap(p)
    assert(StoreSwap.committed(spark, p), "a store cut mid-swap must still read as committed")
    assertRecovered(p, 0 until 3)
  }

  test("no store writer in src/main bypasses StoreSwap") {
    // any DataFrameWriter chain, a zstd option, a `.next` path, or a
    // retract-witness call
    val writer =
      """\.write(?![\w(])|option\("compression",\s*"zstd"\)|\.next(?![\w(])|(has|stamp)RetractMarker""".r
    assert(writer.findFirstIn(""".option("compression", "zstd")""").isDefined)
    assert(writer.findFirstIn("""parquet(path + ".next")""").isDefined)
    assert(writer.findFirstIn("""s"$path/dhbands.next"""").isDefined)
    assert(writer.findFirstIn("df.write\n  .mode(SaveMode.Append)").isDefined)
    assert(writer.findFirstIn("rng.nextInt(3); it.next()").isEmpty)
    assert(writer.findFirstIn("raf.write(footer); sdf.writeStream; StoreSwap.write(df, p)").isEmpty)
    val comment = Seq("*", "//", "/*")
    // the writes that are no Parquet store: the bench's noop sinks,
    // Verify's result dump, and the catalog table of Bucketing.writeBucketed
    def exempt(h: SourceScan.Hit): Boolean = (h.file.getName, h.text) match {
      case ("Bench.scala" | "BenchOne.scala", t) => t.contains(""".write.format("noop")""")
      case ("Verify.scala", t) => t.contains(""".coalesce(1).write.mode("overwrite")""")
      case ("Bucketing.scala", t) => t == "df.write"
      case _ => false
    }
    val hits = SourceScan.hits(writer).filterNot { h =>
      h.file.getName == "StoreSwap.scala" || comment.exists(h.text.startsWith) || exempt(h)
    }
    assert(hits.isEmpty, "write Parquet through graft.ops.StoreSwap:\n" + hits.mkString("\n"))
  }
}
