package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gen.Findings
import graft.pipeline.ConvertJob

/** Golden end-to-end: generated findings fixture → ConvertJob → parquet,
  * asserting schema coercion, global order, row count, readability
  * (SURVEY §5.2).
  */
class ConvertJobSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-e2e").toString
  private lazy val fixtures = Findings.writeFixtures(dir, n = 500)

  test("destName maps key stem + codec suffix") {
    assert(ConvertJob.destName("findings/f.ndjson.gz") == "findings/f.zst.parquet")
    assert(ConvertJob.destName("findings/f.ndjson.gz", "gzip") == "findings/f.gz.parquet")
    assert(ConvertJob.destName("noext") == "noext.zst.parquet")
  }

  test("unsorted fixture → single sorted parquet file with 5 coerced _dt paths") {
    val out = s"$dir/out/finding-unsorted.zst.parquet"
    val res = ConvertJob.run(spark, fixtures._2, out, singleFile = true)

    assert(res.rows == 500)
    assert(res.sorted)
    assert(res.codec == "zstd")
    assert(res.coercedFields.toSet == Set(
      "time_dt", "metadata.product.my_dt",
      "finding_info_list[].created_time_dt",
      "finding_info_list[].first_seen_time_dt",
      "finding_info_list[].related_events[].modified_time_dt"))

    val back = spark.read.parquet(out)
    assert(back.count() == 500)
    assert(res.rows == back.count(), "the reported rows are the rows written")
    // globally ascending time
    val times = back.select("time").collect().map(_.getLong(0))
    assert(times.sliding(2).forall(p => p(0) <= p(1)), "output must be globally sorted")
    // coerced types all the way down
    assert(back.schema("time_dt").dataType == TimestampType)
    assert(back.select(col("metadata.product.my_dt")).schema.head.dataType == TimestampType)
    val deep = back
      .select(explode(col("finding_info_list")).as("f"))
      .select(explode(col("f.related_events")).as("e"))
      .select(col("e.modified_time_dt"))
    assert(deep.schema.head.dataType == TimestampType)
    assert(deep.filter(col("modified_time_dt").isNotNull).count() > 0)
    // time_dt round-trips to exactly the epoch-ms time column
    val mismatch = back
      .filter(unix_millis(col("time_dt")) =!= col("time")).count()
    assert(mismatch == 0, "time_dt must parse to exactly `time` epoch ms")

    // an empty input writes one empty file and reports 0 rows
    val empty = s"$dir/out/finding-empty.zst.parquet"
    val none = ConvertJob.runOn(spark.read.json(fixtures._2).limit(0), empty, singleFile = true)
    assert(none.rows == 0L && none.rows == spark.read.parquet(empty).count())
  }

  test("sorted and unsorted variants converge to identical sorted content") {
    val o1 = s"$dir/out2/a.parquet"
    val o2 = s"$dir/out2/b.parquet"
    ConvertJob.run(spark, fixtures._1, o1, singleFile = true)
    ConvertJob.run(spark, fixtures._2, o2, singleFile = true)
    val a = spark.read.parquet(o1).select("time", "desc").collect()
    val b = spark.read.parquet(o2).select("time", "desc").collect()
    assert(a sameElements b)
  }

  test("generator is deterministic per seed") {
    assert(Findings.record(7).render == Findings.record(7).render)
    assert(Findings.record(7, seed = 1).render != Findings.record(7, seed = 2).render)
  }

  test("sorted write is a permutation: multiset of rows preserved exactly") {
    import scala.util.Random
    val rnd = new Random(17)
    // duplicate keys + duplicate full rows so the multiset check is strict
    val rows = (0 until 2000).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(10)))
    import spark.implicits._
    val df = rows.toDF("time", "v").repartition(8)
    val out = s"$dir/out5/perm.parquet"
    graft.ops.SortedWrite.write(df, out, sortCol = "time")
    val back = spark.read.parquet(out).as[(Long, Int)].collect()
    assert(back.length == rows.length)
    assert(back.groupBy(identity).view.mapValues(_.length).toMap ==
      rows.groupBy(identity).view.mapValues(_.length).toMap,
      "output must be exactly the input multiset")
    val perFile = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("time"))
      .collect().groupBy(_.getString(0))
    perFile.values.foreach { fr =>
      val ts = fr.map(_.getLong(1))
      assert(ts.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("sorting_columns footer metadata is stamped and the file stays readable") {
    import graft.ops.SortingColumnsStamp
    val out = s"$dir/out3/stamped.parquet"
    ConvertJob.run(spark, fixtures._2, out, singleFile = true)

    val rgs = SortingColumnsStamp.readSortingColumns(out)
    assert(rgs.nonEmpty)
    assert(rgs.forall(_ == Seq(("time", false, false))),
      "every row group must carry SortingColumn(time, ascending, nulls_last)")

    // rewrite must not corrupt the file: full content re-read matches
    val back = spark.read.parquet(out)
    assert(back.count() == 500)
    assert(back.select("time").collect().map(_.getLong(0)).sliding(2)
      .forall(p => p(0) <= p(1)))

    // stamping a missing column is a clean no-op
    assert(!SortingColumnsStamp.stamp(out, "no_such_col"))
    assert(spark.read.parquet(out).count() == 500)
  }

  test("multi-part sorted write stamps every part file footer") {
    import graft.ops.SortingColumnsStamp
    val out = s"$dir/out4/parts.parquet"
    // keep the range exchange at 4 partitions so the write emits 4 files;
    // on a cloned session, so no conf change outlives this test
    val s = org.apache.spark.sql.graft.shims.cloneSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val df = s.range(0, 10000).toDF("time")
      .withColumn("v", col("time") * 2)
      .repartition(4)
    val res = ConvertJob.runOn(df, out, sortCol = "time")
    val parts = new java.io.File(out).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length > 1, "expected a multi-part sorted write")
    parts.foreach { p =>
      val rgs = SortingColumnsStamp.readSortingColumns(p.getPath)
      assert(rgs.forall(_ == Seq(("time", false, false))), s"unstamped part ${p.getName}")
    }
    // range-partitioned sort: reading the directory back is still globally sorted per file
    assert(spark.read.parquet(out).count() == 10000)
    assert(res.rows == spark.read.parquet(out).count(), "the reported rows are the rows written")
  }

  test("malformed NDJSON line: FAILFAST raises (pyarrow parity), PERMISSIVE opts out") {
    val src = s"$dir/corrupt.json"
    val w = new java.io.PrintWriter(src)
    try {
      w.println("""{"time": 1, "ok": "yes"}""")
      w.println("""{"time": 2, "ok": BROKEN""")
    } finally w.close()

    intercept[Exception] {
      ConvertJob.run(spark, src, s"$dir/out_ff", singleFile = true)
    }
    // explicit opt-in to Spark's lenient mode keeps the good row
    val res = ConvertJob.run(spark, src, s"$dir/out_perm.zst.parquet",
      singleFile = true, parseMode = "PERMISSIVE")
    assert(res.rows == 2, "permissive mode keeps rows (corrupt one nulled)")
    val cols = spark.read.parquet(s"$dir/out_perm.zst.parquet").columns
    assert(cols.contains("_corrupt_record"), "lenient mode surfaces the corrupt line")
    assert(res.rows == spark.read.parquet(s"$dir/out_perm.zst.parquet").count())
  }

  test("date-partitioned convert: hive dirs per day, sorted within, prunable") {
    // hand-written NDJSON spanning 3 days, deliberately out of order
    val day = 86400000L
    val t0 = Findings.BaseMs
    val times = Seq(t0 + 2 * day + 5000, t0 + 100, t0 + day + 7000,
      t0 + 50, t0 + 2 * day + 1000, t0 + day + 3000)
    val src = s"$dir/multi_day.json"
    val w = new java.io.PrintWriter(src)
    try times.foreach { t =>
      w.println(s"""{"time": $t, "time_dt": "${Findings.iso(t)}", "x": 1}""")
    } finally w.close()

    val out = s"$dir/out_dated"
    val res = ConvertJob.runPartitionedByDate(spark, src, out)
    assert(res.rows == 6 && res.sorted)

    val dirs = new java.io.File(out).listFiles.filter(_.getName.startsWith("date="))
    assert(dirs.map(_.getName).sorted.toSeq ==
      Seq("date=2025-01-01", "date=2025-01-02", "date=2025-01-03"))

    val back = spark.read.parquet(out)
    assert(back.schema("time_dt").dataType == TimestampType, "coercion must survive")
    assert(res.rows == back.count(), "the reported rows are the rows written")
    // per-file sort within each date partition
    dirs.foreach { d =>
      d.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        val ts = spark.read.parquet(f.getPath).select("time").collect().map(_.getLong(0))
        assert(ts.sameElements(ts.sorted), s"unsorted file ${f.getName}")
      }
    }
    // partition pruning on the derived date column
    val pruned = back.filter(col("date") === "2025-01-02")
    val scan = pruned.queryExecution.executedPlan.collect {
      case fs: org.apache.spark.sql.execution.FileSourceScanExec => fs
    }.head
    assert(scan.selectedPartitions.partitionCount == 1)
    assert(pruned.count() == 2)
  }

  test("date partition derivation is UTC regardless of session time zone") {
    // 2025-01-01T00:30:00 UTC — in UTC+14 this is already Jan 2, in UTC-10
    // still Dec 31: a timezone-dependent derivation would place the same
    // row in three different lake partitions depending on cluster config
    val t = 1735691400000L
    val src = s"$dir/tz_probe.json"
    val w = new java.io.PrintWriter(src)
    try w.println(s"""{"time": $t, "x": 1}""") finally w.close()

    val original = spark.conf.get("spark.sql.session.timeZone")
    val layouts = Seq("Pacific/Kiritimati", "Pacific/Honolulu", "UTC").map { tz =>
      spark.conf.set("spark.sql.session.timeZone", tz)
      try {
        val out = s"$dir/out_tz_${tz.replace('/', '_')}"
        ConvertJob.runPartitionedByDate(spark, src, out)
        new java.io.File(out).listFiles
          .filter(_.getName.startsWith("date=")).map(_.getName).toSeq
      } finally spark.conf.set("spark.sql.session.timeZone", original)
    }
    assert(layouts.forall(_ == Seq("date=2025-01-01")),
      s"layout must be the UTC day everywhere, got $layouts")
  }
}
