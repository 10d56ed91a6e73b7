package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.WarmStores

/** [[WarmStores.artifact]], the registry's one warm-store primitive: a
  * committed artifact is served without a build, its path moves with
  * every parameter and with the table bytes, a missing marker (a crash
  * between the data write and its `_SUCCESS`) rebuilds, and the testdata
  * fixtures are keyed like any other dir.
  */
class WarmStoresSpec extends SparkSpec {

  /** The sf0.001 and sf0.01 testdata fixtures. */
  private val sf0001 = Paths.get(Bench.WarmupDir)
  private val sf001 = sf0001.resolveSibling("sf0.01")

  /** A corpus dir holding a copy of sf0.001's single-file documents table. */
  private lazy val dir = {
    val d = Files.createTempDirectory("graft_warmstores").toString
    Files.copy(sf0001.resolve("documents.parquet"), Paths.get(d, "documents.parquet"))
    d
  }

  private var builds = 0

  /** Counts the build and commits every marker subdir (or the root). */
  private def build(markers: String*)(path: String): Unit = {
    builds += 1
    val dirs = if (markers.isEmpty) Seq(path) else markers.map(m => s"$path/$m")
    dirs.foreach(spark.range(3).write.mode("overwrite").parquet(_))
  }

  private def artifact(name: String, params: Any*)(markers: String*): String =
    WarmStores.artifact(spark, dir, "documents", name, params: _*)(markers: _*)(
      build(markers: _*))

  test("a committed artifact is served without running its build") {
    val before = builds
    val first = artifact("spec_serve", "v1")()
    assert(builds == before + 1, "the first call must build")
    assert(Files.exists(Paths.get(first, "_SUCCESS")))
    assert(artifact("spec_serve", "v1")() == first)
    assert(builds == before + 1, "the second call must serve, not build")
  }

  test("every parameter change moves the path") {
    val keys = Seq(
      "spec_params" -> Seq(), "spec_params" -> Seq("k5"), "spec_params" -> Seq("k4"),
      "spec_params" -> Seq("k5", "v2"), "spec_other" -> Seq("k5"))
    val tag = WarmStores.dirTag(spark, dir, "documents")
    val paths = keys.map { case (name, params) =>
      val p = WarmStores.artifact(spark, dir, "documents", name, params: _*)()(_ => ())
      assert(p == WarmStores.key(dir, name, params: _*) + tag)
      p
    }
    assert(paths.distinct.size == paths.size, paths.mkString("\n"))
  }

  test("rewriting the table file re-keys the path") {
    val before = artifact("spec_rekey")()
    val table = Paths.get(dir, "documents.parquet")
    Files.copy(sf001.resolve("documents.parquet"), table, StandardCopyOption.REPLACE_EXISTING)
    val n = builds
    val after = artifact("spec_rekey")()
    assert(after != before, "a rewritten table must not serve the old artifact")
    assert(builds == n + 1, "the re-keyed path must build")
  }

  test("a missing marker rebuilds instead of serving") {
    val path = artifact("spec_markers")("dhbands", "vcounts")
    val n = builds
    assert(artifact("spec_markers")("dhbands", "vcounts") == path)
    assert(builds == n, "both markers committed: serve")
    // the crash window: data written, one success marker never landed
    Files.delete(Paths.get(path, "vcounts", "_SUCCESS"))
    assert(artifact("spec_markers")("dhbands", "vcounts") == path)
    assert(builds == n + 1, "a missing marker must rebuild, not serve")
    assert(Files.exists(Paths.get(path, "vcounts", "_SUCCESS")))
  }

  test("the testdata fixtures get a content tag like any other dir") {
    val td = sf0001.toString
    val tag = WarmStores.dirTag(spark, td, "documents")
    assert(tag.nonEmpty)
    assert(tag != WarmStores.dirTag(spark, td, "embeddings"))
    assert(WarmStores.dirTag(spark, td, "documents") == tag, "the tag is stable")
  }

  test("pid-scoped dump roots and stores keep their literal paths") {
    // the oracle SQL interpolates these paths: they must not move
    val (tmp, pid) = (sys.props("java.io.tmpdir"), ProcessHandle.current().pid())
    assert(WarmStores.dumpDir("q183") == s"$tmp/graft_q183_pid$pid")
    assert(WarmStores.key(dir, "shards", "audit", "p512s2048", WarmStores.Pid) ==
      s"$tmp/graft_shards_" + java.lang.Integer.toHexString(dir.hashCode) +
        "_audit_p512s2048_pid" + pid)
  }

  test("no java.nio _SUCCESS existence probe in src/main: use StoreSwap.committed") {
    // a local-filesystem path built around a `_SUCCESS` literal, also
    // when the call wraps onto the next line
    val probe = """(Paths\.get|Path\.of|new\s+(java\.io\.)?File)\([^)]*?_SUCCESS""".r
    assert(probe.findFirstIn(
      "Files.exists(java.nio.file.Paths.get(\n  path, \"shingles\", \"_SUCCESS\"))").isDefined)
    assert(probe.findFirstIn("new org.apache.hadoop.fs.Path(dir, \"_SUCCESS\")").isEmpty)
    val hits = SourceScan.hits(probe)
    assert(hits.isEmpty,
      "probe committed markers through graft.ops.StoreSwap.committed:\n" + hits.mkString("\n"))
  }
}
