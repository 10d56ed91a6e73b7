package graft

import org.apache.spark.sql.functions._

import graft.ops.Compact
import graft.queries.Tables

class CompactSpec extends SparkSpec {

  test("filesFor: the size quotient, at least 1, clamped to 2^20") {
    val target = 128L << 20
    assert(Compact.filesFor(BigInt(Long.MaxValue), target) == (1 << 20))
    assert(Compact.filesFor(BigInt(10), target) == 1)
    assert(Compact.filesFor(BigInt(target) * 37, target) == 37)
  }

  test("compaction shrinks file count, preserves content, restores sort") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_test").resolve("t").toString
    val ev = Tables.raw(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "ts")
      .withColumn("time", unix_micros(col("ts")))
      .drop("ts")

    // simulate a streaming lake: many tiny unsorted files
    ev.orderBy(rand(7)).repartition(40)
      .write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir)
    val expect = before.orderBy("event_id").collect()

    val res = Compact.compact(spark, dir, sortCol = "time", targetBytes = 256 * 1024)
    assert(res.filesBefore == 40)
    assert(res.filesAfter < 40, s"expected fewer files, got ${res.filesAfter}")
    assert(res.rows == expect.length)

    // content identical
    val after = spark.read.parquet(dir)
    assert(after.orderBy("event_id").collect().sameElements(expect))
    assert(res.rows == after.count(), "the reported rows are the rows written")
    // every compacted file internally sorted by the sort column
    new java.io.File(dir).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .foreach { f =>
        val ts = spark.read.parquet(f.getPath).select("time").collect().map(_.getLong(0))
        assert(ts.sameElements(ts.sorted), s"unsorted compacted file ${f.getName}")
      }
    // no temp/backup residue
    assert(!new java.io.File(dir + ".__compact__").exists)
    assert(!new java.io.File(dir + ".__old__").exists)
    assert(!new java.io.File(dir + ".next").exists)
    assert(!new java.io.File(dir + ".old").exists)
  }

  test("partitioned compaction rewrites each leaf dir, preserving layout and pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_leafwise").resolve("t").toString
    val ev = Tables.raw(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "ts")
      .withColumn("time", unix_micros(col("ts"))).drop("ts")
      .withColumn("bucketed", (col("user_id") % 3).cast("int"))
    // many tiny files inside each partition
    ev.orderBy(rand(11)).repartition(8)
      .write.mode("overwrite").partitionBy("bucketed").parquet(dir)
    val expect = spark.read.parquet(dir).orderBy("event_id").collect()
    val partsBefore = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("bucketed=")).map(_.getName).sorted.toSeq

    val res = Compact.compactPartitioned(spark, dir, sortCol = "time",
      targetBytes = 512 * 1024)
    assert(res.keySet == partsBefore.toSet, s"one result per partition: $res")
    assert(res.values.forall(r => r.filesAfter <= r.filesBefore))

    // layout intact, content identical, pruning still works
    assert(new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("bucketed=")).map(_.getName).sorted.toSeq == partsBefore)
    val back = spark.read.parquet(dir)
    assert(back.orderBy("event_id").collect().sameElements(expect))
    res.foreach { case (rel, r) =>
      assert(r.rows == spark.read.parquet(s"$dir/$rel").count(), s"rows reported for $rel")
    }
    val pruned = back.filter(col("bucketed") === 1)
    val scan = pruned.queryExecution.executedPlan.collect {
      case fs: org.apache.spark.sql.execution.FileSourceScanExec => fs
    }.head
    assert(scan.selectedPartitions.partitionCount == 1)
  }

  test("refuses to flatten a hive-partitioned directory tree") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_partitioned").resolve("t").toString
    val docs = Tables.raw(spark, "/root/testdata/sf0.001", "documents")
    graft.ops.Bucketing.writePartitioned(docs, dir, Seq("source"))
    val layoutBefore = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("source=")).map(_.getName).sorted.toSeq
    assert(layoutBefore.nonEmpty)

    val e = intercept[IllegalArgumentException] {
      Compact.compact(spark, dir, sortCol = "doc_id")
    }
    assert(e.getMessage.contains("hive-partitioned"), e.getMessage)
    // the refusal must happen BEFORE any move: layout untouched
    assert(new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("source=")).map(_.getName).sorted.toSeq == layoutBefore)
    assert(!new java.io.File(dir + ".__compact__").exists)
    assert(!new java.io.File(dir + ".__old__").exists)
    assert(!new java.io.File(dir + ".next").exists)
    assert(!new java.io.File(dir + ".old").exists)
  }

  test("refuses a MIXED directory (top-level parquet beside partition subdirs)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_mixed").resolve("t").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(dir))
    val docs = Tables.raw(spark, "/root/testdata/sf0.001", "documents")
    graft.ops.Bucketing.writePartitioned(docs, dir, Seq("source"))
    // drop a loose parquet file at the top level next to the source= dirs
    docs.limit(5).coalesce(1).write.mode("append").parquet(dir + "/__loose__")
    val loose = new java.io.File(dir + "/__loose__").listFiles
      .find(_.getName.endsWith(".parquet")).get
    assert(loose.renameTo(new java.io.File(dir + "/loose.parquet")))
    rm(new java.io.File(dir + "/__loose__"))

    val e = intercept[IllegalArgumentException] {
      Compact.compact(spark, dir, sortCol = "doc_id")
    }
    assert(e.getMessage.contains("mixes top-level parquet"), e.getMessage)
    // refusal before any move: both the loose file and the layout survive
    assert(new java.io.File(dir + "/loose.parquet").exists)
    assert(new java.io.File(dir).listFiles.exists(_.getName.startsWith("source=")))
    assert(!new java.io.File(dir + ".__compact__").exists)
    assert(!new java.io.File(dir + ".__old__").exists)
    assert(!new java.io.File(dir + ".next").exists)
    assert(!new java.io.File(dir + ".old").exists)
  }
}
