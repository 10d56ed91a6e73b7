package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.ConnectedComponents
import graft.queries.{Similarity, Tables}

/** Every case runs on BOTH paths of the operator: the driver-side
  * union-find (the test session's default broadcast threshold admits these
  * small graphs) and the distributed loop (forced by a threshold of -1 on a
  * cloned session). The two must give identical labels, and `PlanEvidence`
  * proves which path ran: only the loop snaps `cc.seed` / `cc.prop`.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private lazy val loopSession: SparkSession = {
    val s = shims.cloneSession(spark)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private val LoopTags = Set("cc.seed", "cc.prop")

  private def longs(session: SparkSession, rows: Seq[Row], names: String*): DataFrame =
    session.createDataFrame(rows.asJava, StructType(names.map(StructField(_, LongType))))

  /** Runs the operator and returns its labels plus the snap tags it
    * recorded; fails on a null or duplicated output id.
    */
  private def runTagged(
      nodes: DataFrame, edges: DataFrame): (Map[Long, Long], Set[String]) = {
    PlanEvidence.enabled = true
    try {
      PlanEvidence.clear()
      val rows = ConnectedComponents.run(nodes, edges).collect()
      assert(!rows.exists(_.isNullAt(0)), "null node ids must be absent")
      val got = rows.map(r => r.getLong(0) -> r.getLong(1))
      assert(got.map(_._1).distinct.length == got.length, s"one row per node: ${got.toSeq}")
      (got.toMap, PlanEvidence.drain().map(_._1).toSet)
    } finally {
      PlanEvidence.enabled = false
      PlanEvidence.clear()
    }
  }

  /** Labels from the local path, after checking the forced loop agrees. */
  private def cc(nodes: Seq[Any], edges: Seq[(Any, Any)]): Map[Long, Long] = {
    def in(s: SparkSession) = runTagged(
      longs(s, nodes.map(Row(_)), "id"),
      longs(s, edges.map { case (a, b) => Row(a, b) }, "src", "dst"))
    val (local, localTags) = in(spark)
    val (looped, loopTags) = in(loopSession)
    assert(localTags.intersect(LoopTags).isEmpty, s"small graph must not loop: $localTags")
    assert(LoopTags.subsetOf(loopTags), s"threshold -1 must force the loop: $loopTags")
    assert(local == looped, "driver union-find and loop must label identically")
    local
  }

  test("a 32-node chain collapses to its minimum (worst case for propagation depth)") {
    val res = cc(0L to 31L, (0L until 31L).map(i => (i, i + 1)))
    assert(res.values.toSet == Set(0L), s"chain must be one component: $res")
  }

  test("components, singletons, duplicate edges, self-loops, reversed edges") {
    val res = cc(
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      Seq((2L, 1L), (2L, 3L), (3L, 2L), (5L, 4L), (4L, 5L), (6L, 6L)))
    assert(res == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, // {1,2,3}
      4L -> 4L, 5L -> 4L,           // {4,5}
      6L -> 6L, 7L -> 7L))          // self-loop + isolated node
  }

  test("edge endpoints absent from nodes still carry connectivity (and are excluded from output)") {
    // path 5 - 99 - 10 where 99 is not a requested node: the absent
    // intermediate must still connect {5, 10} into one component, and the
    // output must cover exactly the requested nodes
    val res = cc(Seq(5L, 10L), Seq((5L, 99L), (99L, 10L)))
    assert(res == Map(5L -> 5L, 10L -> 5L))
    // a low-id absent neighbor is still the minimum reachable id: the
    // contract is "min id reachable", whether or not that id is in `nodes`
    val res2 = cc(Seq(5L, 10L), Seq((5L, 3L), (3L, 10L)))
    assert(res2 == Map(5L -> 3L, 10L -> 3L))
  }

  test("null endpoints connect nothing; null and duplicated node ids") {
    // two edges into a null endpoint must not join 5 to 7's component
    // (a null key carried through the loop would bridge them)
    val res = cc(
      Seq(5L, 7L, 7L, null, 3L),
      Seq((5L, null), (7L, null), (3L, 7L), (null, null)))
    assert(res == Map(5L -> 5L, 7L -> 3L, 3L -> 3L))
  }

  test("an empty edge list labels every distinct node by itself") {
    assert(cc(Seq(3L, 1L, 3L), Seq.empty) == Map(3L -> 3L, 1L -> 1L))
  }

  test("reliable-snap flag: CC runs its loop through checkpoint files, identical labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rel-ckpt").toString
    val session = shims.cloneSession(loopSession)
    session.conf.set(shims.ReliableSnapKey, "true")
    session.conf.set(shims.SnapDirKey, dir)
    val chain = (0L until 31L).map(i => Row(i, i + 1))
    val (got, tags) = runTagged(
      session.range(0, 32).select(col("id")), longs(session, chain, "src", "dst"))
    assert(LoopTags.subsetOf(tags), s"threshold -1 must force the loop: $tags")
    assert(got.values.toSet == Set(0L), s"chain must fold identically under reliable snaps: $got")
    // the loop actually went through the reliable path: checkpoint files landed
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).getOrElse(Array.empty).exists(anyFile)
    assert(anyFile(new java.io.File(dir)),
      s"reliable mode must write checkpoint files under $dir")
  }

  test("the loop chases lazily when a round's label map fits under the threshold") {
    // 2000 copies of a 20-node chain's edges: the edge list measures well
    // above 16 KB (so the loop runs) while the 20-row label map stays
    // below it (so each round's chase is a lazy broadcast, not `cc.chase`)
    val chain = (0 until 2000).map(i => Row((i % 19).toLong, (i % 19 + 1).toLong))
    val lazyChase = shims.cloneSession(spark)
    lazyChase.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
    val runs = Seq(lazyChase, loopSession).map { s =>
      runTagged(s.range(0, 20).select(col("id")), longs(s, chain, "src", "dst"))
    }
    val Seq((lazyLabels, lazyTags), (forcedLabels, forcedTags)) = runs
    assert(LoopTags.subsetOf(lazyTags) && !lazyTags.contains("cc.chase"), lazyTags)
    assert(forcedTags.contains("cc.chase"), s"a -1 threshold materializes the chase: $forcedTags")
    assert(lazyLabels == forcedLabels && lazyLabels.values.toSet == Set(0L), lazyLabels)
  }

  test("star with a high-id center still labels every leaf with the min leaf") {
    // center 100 connected to leaves 1..20: min must flow leaf→center→leaves
    val res = cc(Seq(100L) ++ (1L to 20L), (1L to 20L).map(l => (100L, l)))
    assert(res.values.toSet == Set(1L))
  }

  test("property: both paths equal a fixpoint reference on random graphs") {
    // small id range so nodes repeat, edges hit absent endpoints, and
    // self-loops, reversed and duplicate edges all occur
    val id: Gen[Any] = Gen.frequency(8 -> Gen.choose(0L, 40L), 1 -> Gen.const(null))
    val graph = for {
      nodes <- Gen.listOf(id)
      edges <- Gen.listOf(Gen.zip(id, id))
      reversed <- Gen.someOf(edges)
    } yield (nodes, edges ++ reversed.map(_.swap))
    (0 until 12).flatMap(i => graph(Gen.Parameters.default.withSize(30), Seed(11L + i)))
      .foreach { case (nodes, edges) =>
        // reference: relax every non-null edge to the minimum label of its
        // ends until nothing changes
        val ends = edges.collect { case (a: Long, b: Long) => (a, b) }
        val lab = scala.collection.mutable.Map.empty[Long, Long]
        def l(x: Long): Long = lab.getOrElse(x, x)
        var changed = true
        while (changed) {
          changed = false
          ends.foreach { case (a, b) =>
            val m = math.min(l(a), l(b))
            if (l(a) != m || l(b) != m) { lab(a) = m; lab(b) = m; changed = true }
          }
        }
        val expected = nodes.collect { case x: Long => x -> l(x) }.toMap
        assert(cc(nodes, edges) == expected, s"nodes=$nodes edges=$edges")
      }
  }

  test("matches a union-find reference exactly on the real near-dup graph") {
    val e = Tables(spark, Bench.WarmupDir, "embeddings")
    val pairs = Similarity.blockedNearDupPairs(e, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = e.select("vec_id").collect().map(_.getLong(0))
    // reference: classic union-find with path compression over a boxed map
    // (independent of the operator's primitive-array driver path)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    assert(cc(ids.toSeq, pairs.toSeq) == expected)
  }

  test("labels are edge-consistent on the real near-dup graph (q55 machinery)") {
    val labels = Seq(spark, loopSession).map { s =>
      val e = Tables(s, Bench.WarmupDir, "embeddings")
      val pairs = Similarity.blockedNearDupPairs(e, threshold = 0.4)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val comp = ConnectedComponents.run(e.select(col("vec_id").as("id")), pairs)
      // every edge's endpoints share a component, and each component is
      // labeled by its own minimum member
      val inconsistent = pairs
        .join(comp.withColumnRenamed("id", "src").withColumnRenamed("component", "ca"), "src")
        .join(comp.withColumnRenamed("id", "dst").withColumnRenamed("component", "cb"), "dst")
        .filter(col("ca") =!= col("cb"))
      assert(inconsistent.isEmpty, "near-dup pair endpoints must share a cluster")
      val badLabel = comp.groupBy("component").agg(min("id").as("mn"))
        .filter(col("component") =!= col("mn"))
      assert(badLabel.isEmpty, "every cluster must be labeled by its minimum member")
      comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels.distinct.size == 1, "driver union-find and loop must label identically")
  }
}
