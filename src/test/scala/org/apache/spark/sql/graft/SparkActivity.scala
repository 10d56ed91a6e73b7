package org.apache.spark.sql.graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark ran while a block ran, for specs that pin an operator's job
  * count or its scan volume. Lives in Spark's package for the listener
  * bus's `waitUntilEmpty`, so every event of the block is counted.
  */
object SparkActivity {

  /** Jobs started, and input records read by the tasks that finished. */
  final case class Ran(jobs: Int, recordsRead: Long)

  def during[T](spark: SparkSession)(body: => T): (T, Ran) = {
    val bus = spark.sparkContext.listenerBus
    val jobs = new AtomicInteger
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) { records.addAndGet(e.taskMetrics.inputMetrics.recordsRead); () }
    }
    bus.waitUntilEmpty()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (out, Ran(jobs.get, records.get))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
