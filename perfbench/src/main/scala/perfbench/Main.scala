package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's one command, for one workload and one seed:
  *
  *   Main --workload <convert|dedup|knn> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> [--commit <sha>]
  *   Main --selftest --work <dir>
  *
  * Generates the workload's inputs (cached, not timed), sets up and warms
  * up several times on fresh sessions, drives the workload's public calls
  * in a closed loop for `--seconds`, checks every output, and prints one
  * JSON result as its last stdout line. `--trace 1` alternates untraced and traced ops and
  * prints the per-layer metrics instead.
  */
object Main {

  val SetupReps = 3

  /** End-to-end metrics: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "1/s", "op_p50_s" -> "s",
    "retained_heap_mb" -> "MB", "recall" -> "frac")

  /** Per-layer metrics: name -> unit. A workload whose traced run does not
    * exercise or measure a layer reports 0 for it.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.busy_frac" -> "frac", "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_write_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
    "spark.snap_bytes_per_op" -> "bytes", "spark.output_bytes_per_op" -> "bytes",
    "spark.input_rows_per_op" -> "count",
    "trace.span_coverage" -> "frac", "trace.overhead_frac" -> "frac", "jvm.peak_live_heap_mb" -> "MB",
    "ConvertJob.infer_s" -> "s", "ConvertJob.scan_tasks" -> "count",
    "JsonScan.exec_s" -> "s", "DtCoercion.exec_s" -> "s",
    "SortedWrite.s" -> "s", "SortedWrite.spill_bytes" -> "bytes",
    "SortedWrite.shuffle_write_bytes" -> "bytes", "SortedWrite.output_bytes" -> "bytes",
    "SortedWrite.out_bytes_per_in_byte" -> "ratio", "SortingColumnsStamp.s" -> "s",
    "Dedup.tiers_s" -> "s", "Dedup.paragraph_s" -> "s", "Dedup.pairs_per_candidate" -> "ratio",
    "kernel.shingleMinHash_ns_per_row" -> "ns", "kernel.shingleHashSet_ns_per_row" -> "ns",
    "kernel.lshBands_ns_per_row" -> "ns", "kernel.jaccardSorted_ns_per_pair" -> "ns",
    "ConnectedComponents.s" -> "s", "ConnectedComponents.jobs" -> "count",
    "DedupStore.persist_s" -> "s", "DedupStore.probe_s" -> "s", "DedupStore.append_s" -> "s",
    "DedupStore.compact_s" -> "s", "DedupStore.store_files" -> "count",
    "DedupStore.store_bytes" -> "bytes", "DedupStore.store_bytes_per_doc" -> "bytes",
    "DedupStore.bytes_written_per_batch_byte" -> "ratio",
    "IvfIndex.fit_s" -> "s", "PqIndex.fit_s" -> "s", "Bucketing.index_build_s" -> "s",
    "PqIndex.search_s" -> "s", "PqIndex.rows_read_per_query" -> "count",
    "kernel.adcScore_ns_per_row" -> "ns", "kernel.cosine_ns_per_row" -> "ns")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opts.getOrElse("work", sys.error("--work <dir> is required"))
    if (args.contains("--selftest")) sys.exit(SelfTest.run(work))
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")
    val seed = opts.getOrElse("seed", sys.error("--seed is required")).toLong
    val seconds = opts.getOrElse("seconds", sys.error("--seconds is required")).toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    sys.exit(run(workload, seed, seconds, trace, work, opts.getOrElse("commit", "unknown")))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Median, plus the highest percentile with at least ten samples beyond
    * it (absent below 11 samples), with the sample count.
    */
  def timing(xs: Seq[Double]): String = {
    val s = xs.sorted
    val tail =
      if (s.size < 11) ""
      else {
        val i = s.size - 11
        f""", "tail_pct": ${100.0 * (i + 1) / s.size}%.1f, "tail": ${s(i)}"""
      }
    s"""{"p50": ${Workloads.medianOf(s)}, "n": ${s.size}$tail}"""
  }

  /** Highest heap occupancy left after any garbage collection, in MB: the
    * live set the program held, without the collector's slack.
    */
  object LiveHeap {
    @volatile var peakMb = 0.0
    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              var used = 0L
              info.getGcInfo.getMemoryUsageAfterGc.forEach((_, u) => used += u.getUsed)
              peakMb = math.max(peakMb, used / 1048576.0)
            }
          }, null, null)
        case _ =>
      }
  }

  /** Heap in use after the loop once full collections ran: what the program
    * keeps between calls (caches, snaps, session state, leaks), in MB. Read
    * after explicit collections, it does not depend on when the collector
    * last ran or how far it grew the heap.
    */
  def retainedHeapMb(): Double = {
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def statusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def procFirst(path: String, f: String => String): String =
    try { val s = scala.io.Source.fromFile(path); try f(s.mkString) finally s.close() }
    catch { case _: Exception => "unavailable" }

  private def loadavg() = procFirst("/proc/loadavg", _.trim.split("\\s+").take(3).mkString(" "))

  private def jsonStr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def num(x: Double) = if (x.isNaN || x.isInfinite) "0.0" else x.toString

  /** The ops of one tracing mode: their spans, seconds and work per second. */
  final case class Loop(ops: Seq[Span], times: Seq[Double], workPerS: Double, failed: Int) {
    def p50: Double = Workloads.medianOf(times)
    def wall: Double = times.sum
  }

  /** The closed loop: ops until `seconds` are spent and the current round
    * is complete. Untraced, `work_per_s` is the median over rounds of work
    * per second, robust to one slow round. Traced, ops alternate between
    * untraced and traced (counting on) and a round has an even number of
    * ops, so both modes see the same inputs; returns (untraced, traced,
    * loop wall).
    */
  def loop(w: Workload, spark: SparkSession, t: Tracer, seconds: Double, trace: Boolean,
      log: String => Unit): (Loop, Option[Loop], Double) = {
    val round = if (trace && w.opsPerRound % 2 == 1) 2 * w.opsPerRound else w.opsPerRound
    final case class Op(traced: Boolean, span: Span, secs: Double, units: Double, ok: Boolean)
    val done = mutable.ArrayBuffer[Op]()
    val rounds = mutable.ArrayBuffer[Double]()
    var roundUnits = 0.0
    var i = 0
    val t0 = System.nanoTime()
    var r0 = t0
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || i % round != 0) {
      val traced = trace && i % 2 == 1
      t.phase = if (traced) "traced" else "plain"
      t.count(traced)
      val s0 = System.nanoTime()
      val (units, ok) =
        try (t.span("op") { w.op(spark, i) }, true)
        catch { case e: Exception => log(s"op $i failed: $e"); (0.0, false) }
      val s1 = System.nanoTime()
      done += Op(traced, t.all.last, (s1 - s0) / 1e9, units, ok)
      roundUnits += units
      i += 1
      if (i % round == 0) {
        rounds += roundUnits / ((s1 - r0) / 1e9)
        roundUnits = 0.0
        r0 = s1
      }
    }
    t.count(false)
    val wall = (System.nanoTime() - t0) / 1e9
    def mode(traced: Boolean): Loop = {
      val ops = done.filter(_.traced == traced).toSeq
      val rate = if (trace) ops.map(_.units).sum / ops.map(_.secs).sum else Workloads.medianOf(rounds.toSeq)
      Loop(ops.map(_.span), ops.map(_.secs), rate, ops.count(!_.ok))
    }
    (mode(false), if (trace) Some(mode(true)) else None, wall)
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, commit: String): Int = {
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val scratch = s"$work/scratch/$runId"
    val results = s"$work/results"
    new File(results).mkdirs()
    def log(s: String): Unit = System.err.println(
      f"[perfbench +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $s")
    val host = mutable.LinkedHashMap[String, String](
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "mem_total_kb" -> jsonStr(procFirst("/proc/meminfo",
        _.linesIterator.find(_.startsWith("MemTotal")).map(_.split("\\s+")(1)).getOrElse("?"))),
      "loadavg_start" -> jsonStr(loadavg()),
      "jvm_flags" -> jsonStr(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.mkString(" ")),
      "commit" -> jsonStr(commit))

    LiveHeap.install()
    val tracer = new Tracer(runId)
    val ctx = Ctx(seed, s"$work/inputs", scratch, tracer)
    val w = Workloads(workload, ctx)
    val (_, genS) = Workloads.secs(w.prepare())
    log(f"inputs ready in $genS%.1f s")

    Gen.deleteTree(new File(scratch))
    new File(scratch).mkdirs()
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      tracer.attach(spark.sparkContext)
      val (_, loadS) = Workloads.secs(w.load(spark))
      w.setup(spark)
      w.warmup(spark)
      (System.nanoTime() - t0) / 1e9 - loadS
    }
    log(s"setup ${setups.mkString(", ")} s")

    val (plain, tracedLoop, loopWall) = loop(w, spark, tracer, seconds, trace, log)
    val retained = retainedHeapMb()
    val loops = plain +: tracedLoop.toSeq
    val main = loops.last
    loops.foreach(l => log(f"loop: ${l.times.size} ops, ${l.workPerS}%.3f ${w.unit}/s, p50 ${l.p50}%.3f s"))

    tracer.phase = "check"
    val (checks, failures, recall) =
      try w.check(spark)
      catch { case e: Exception => (1, Seq(s"check raised $e"), 0.0) }
    failures.take(20).foreach(f => log(s"CHECK FAILED: $f"))
    log(s"checks done: $checks")

    val perLayer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        tracer.phase = "probe"
        val all = new Counts
        main.ops.foreach(s => all += tracer.countsUnder(s))
        val n = math.max(1, main.ops.size).toDouble
        val cores = Runtime.getRuntime.availableProcessors()
        val covered = loops.flatMap(_.ops).map(_.seconds).sum
        val generic = Map(
          "spark.busy_frac" -> all.taskMs / 1000.0 / (main.wall * cores),
          "spark.jobs_per_op" -> all.jobs / n,
          "spark.tasks_per_op" -> all.tasks / n,
          "spark.shuffle_write_bytes_per_op" -> all.shuffleWrite / n,
          "spark.spill_bytes_per_op" -> all.spill / n,
          "spark.snap_bytes_per_op" -> all.snapBytes / n,
          "spark.output_bytes_per_op" -> all.output / n,
          "spark.input_rows_per_op" -> all.inputRows / n,
          "jvm.peak_live_heap_mb" -> LiveHeap.peakMb,
          "trace.span_coverage" -> covered / loopWall,
          "trace.overhead_frac" ->
            (if (loops.head.p50 > 0) main.p50 / loops.head.p50 - 1 else 0.0))
        tracer.count(true)
        try generic ++ w.layers(spark, main.ops) finally tracer.count(false)
      }
    spark.stop()
    log("session stopped")

    val opsAttempted = loops.map(_.times.size).sum
    val failed = loops.map(_.failed).sum + (if (failures.nonEmpty) 1 else 0)
    val attempted = opsAttempted + checks
    val correct = failures.isEmpty && loops.forall(_.failed == 0) && opsAttempted > 0
    val e2e = Map(
      "setup_s" -> Workloads.medianOf(setups),
      "work_per_s" -> main.workPerS,
      "op_p50_s" -> main.p50,
      "retained_heap_mb" -> retained,
      "recall" -> recall)
    host("loadavg_end") = jsonStr(loadavg())

    val printed = if (trace) PerLayer else EndToEnd
    val values = if (trace) perLayer else e2e
    val metrics = printed.map { case (k, u) =>
      s""""$k": {"value": ${num(values.getOrElse(k, 0.0))}, "unit": "$u"}"""
    }.mkString(", ")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}"""

    // the full record: host context, every timing with its tail and sample
    // count, both halves of a traced run, and the spans
    val record = s"""{"workload": "$workload", "seed": $seed, "trace": $trace, "unit": "${w.unit}",
      | "host": {${host.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}},
      | "peak_live_heap_mb": ${LiveHeap.peakMb}, "peak_rss_mb": ${statusKb("VmHWM:") / 1024.0},
      | "jvm_uptime_s": ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}, "inputs_s": $genS, "setup_s": [${setups.mkString(", ")}], "loop_wall_s": $loopWall,
      | "loops": [${loops.zipWithIndex.map { case (l, i) =>
        s"""{"phase": "${if (trace && i == 1) "traced" else "plain"}", "op_seconds": ${l.wall}, """ +
          s""""work_per_s": ${l.workPerS}, "op_s": ${timing(l.times)}, "failed": ${l.failed}}""" }.mkString(", ")}],
      | "failures": [${failures.map(jsonStr).mkString(", ")}],
      | "result": $result}""".stripMargin
    val base = s"$results/$runId"
    Files.write(Paths.get(s"$base.json"), record.getBytes(StandardCharsets.UTF_8))
    Gen.writeLines(s"$base.spans.jsonl", tracer.jsonLines)
    Gen.deleteTree(new File(scratch))

    println(s"host: {${host.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}")
    loops.zipWithIndex.foreach { case (l, i) =>
      val phase = if (trace && i == 1) "traced" else "plain"
      println(s"""loop[$phase]: work_per_s=${l.workPerS} ${w.unit}/s op_s=${timing(l.times)}""")
    }
    if (trace) println(s"tracing overhead: ${num(perLayer("trace.overhead_frac"))} (traced / untraced op_p50_s - 1)")
    println(s"record: $base.json")
    println(result)
    if (correct) 0 else 1
  }
}
