package graft

import org.apache.spark.sql.functions._

import graft.ops.Bucketing
import graft.queries.Tables

/** Bucketed tables must join and aggregate WITHOUT a shuffle exchange —
  * the layout-level co-location claim, asserted on the executed plan.
  */
class BucketingSpec extends SparkSpec {

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // force AQE to finalize the executed plan
    // AQE query stages are leaf nodes (collect() never descends into them),
    // so count exchanges in the fully rendered tree instead
    val tree = df.queryExecution.executedPlan.toString
    "Exchange (hash|range)partitioning".r.findAllIn(tree).length
  }

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // a crashed prior run can leave the managed location without the
    // catalog entry, which CREATE TABLE then refuses
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    if (warehouse.exists) rm(warehouse)
  }

  private val dir = "/root/testdata/sf0.001"

  /** Shared fixture so each test stands alone under test filtering. */
  private lazy val bucketedTables: Unit = {
    dropTable("b_orders")
    dropTable("b_lineitem")
    Bucketing.writeBucketed(
      Tables.raw(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", "o_orderkey", buckets = 4)
    Bucketing.writeBucketed(
      Tables.raw(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice")),
      "b_lineitem", "l_orderkey", buckets = 4)
  }

  test("bucketed equi-join runs with zero shuffle exchanges") {
    bucketedTables

    val joined = Bucketing.readTable(spark, "b_lineitem")
      .join(Bucketing.readTable(spark, "b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_extendedprice", "o_totalprice")

    assert(shuffles(joined) == 0,
      "bucketed-bucketed equi-join must not exchange either side")

    // same join unbucketed shuffles (sanity that the assertion means something)
    val plain = Tables.raw(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(Tables.raw(spark, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    assert(shuffles(plain) > 0)

    // results identical to the plain join
    val a = joined.orderBy("l_orderkey", "l_extendedprice").collect()
    val b = Tables.raw(spark, dir, "lineitem")
      .join(Tables.raw(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_extendedprice", "o_totalprice")
      .orderBy("l_orderkey", "l_extendedprice").collect()
    assert(a.sameElements(b))
  }

  test("aggregation on the bucket key needs no exchange before the partial agg") {
    bucketedTables
    val agg = Bucketing.readTable(spark, "b_orders")
      .groupBy("o_orderkey")
      .agg(sum("o_totalprice").as("s"))
    assert(shuffles(agg) == 0,
      "groupBy on the bucketing key must reuse the bucket partitioning")
  }

  test("partitioned write prunes whole directories on a partition-column filter") {
    val path = java.nio.file.Files.createTempDirectory("graft_part").resolve("docs").toString
    val docs = Tables.raw(spark, "/root/testdata/sf0.001", "documents")
    Bucketing.writePartitioned(docs, path, Seq("source"))

    val one = docs.select("source").head.getString(0)
    val pruned = spark.read.parquet(path).filter(col("source") === one)

    // planning-time pruning: the scan's SELECTED partitions (inputFiles on
    // the DataFrame lists the whole relation pre-filter) are only source=one
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, got ${scan.selectedPartitions.partitionCount}")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("source"),
      plan.linesIterator.take(10).mkString("\n"))

    // values round-trip (partition col comes back from the directory name)
    val n = docs.filter(col("source") === one).count()
    assert(pruned.count() == n)
  }
}
