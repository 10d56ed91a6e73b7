package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashExpressions, HashKernels, Text, Vectors}
import graft.operators.{ConnectedComponents, IvfIndex, PqIndex}
import graft.ops.{Bucketing, DtCoercion, SortingColumnsStamp}
import graft.pipeline.ConvertJob
import graft.queries.{Dedup, DedupStore}

/** What a run hands every workload: its seed, where generated inputs are
  * cached, a scratch dir for outputs and stores, and the tracer.
  */
final case class Ctx(seed: Long, inputs: String, scratch: String, tracer: Tracer)

/** One benchmark workload. The driver thread calls `op` in a closed loop:
  * each call starts only after the previous one returned.
  */
trait Workload {
  /** What `op` returns: the unit of `work_per_s`. */
  def unit: String
  /** Generate or load the inputs (plain Scala, before any session). */
  def prepare(): Unit
  /** Input conversion that needs Spark (cached like generation, not timed). */
  def load(spark: SparkSession): Unit = ()
  /** The store and index builds the loop needs, on a fresh session. */
  def setup(spark: SparkSession): Unit = ()
  /** The workload's ops once over its inputs, after each `setup` and timed
    * with it in `setup_s`, so JIT and whole-stage codegen are warm before
    * the loop.
    */
  def warmup(spark: SparkSession): Unit
  /** The loop stops only after a whole round of this many ops, so every run
    * measures the same mix of op kinds (object sizes) and enough ops.
    */
  def opsPerRound: Int = 1
  /** One closed-loop operation; returns the work done, in `unit`. */
  def op(spark: SparkSession, i: Int): Double
  /** Correctness checks, outside the timed loop: (checks made, failures, recall). */
  def check(spark: SparkSession): (Int, Seq[String], Double)
  /** Per-layer metrics of the traced half of the loop, plus isolated probes. */
  def layers(spark: SparkSession, ops: Seq[Span]): Map[String, Double]
}

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "convert" => new ConvertWorkload(c)
    case "dedup"   => new DedupWorkload(c)
    case "knn"     => new KnnWorkload(c)
    case other     => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("convert", "dedup", "knn")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def meanOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Mean seconds of the spans called `name`. */
  def spanMean(t: Tracer, name: String): Double = meanOf(t.named(name).map(_.seconds))

  /** ns per row of `kernel` beyond `base`, a cheap projection of the same
    * inputs, over `rows`: from the slope between the rows with `rep` below a
    * quarter of `reps` and all of them (best of three noop projections
    * each), so the fixed cost of a job cancels.
    */
  def nsPerRow(rows: DataFrame, reps: Int, kernel: Column, base: Column): Double = {
    def best(c: Column, r: Int) =
      (0 until 3).map(_ => secs(noop(rows.filter(col("rep") < r).select(c)))._2).min
    val n = rows.filter(col("rep") >= reps / 4).count()
    ((best(kernel, reps) - best(kernel, reps / 4)) - (best(base, reps) - best(base, reps / 4))) * 1e9 / n
  }

  /** ns per call of a kernel function called directly, as generated code
    * calls it, over `inputs`: one untimed pass, then passes for 0.3 s.
    */
  def nsPerCall[A](inputs: IndexedSeq[A])(f: A => Any): Double = {
    var sink = 0
    inputs.foreach(x => sink += f(x).hashCode)
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) {
      inputs.foreach(x => sink += f(x).hashCode)
      calls += inputs.size
    }
    val ns = (System.nanoTime() - t0).toDouble / calls
    if (sink == 42) System.err.print("")
    ns
  }

  def dirBytes(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.map(dirBytes).foldLeft((0L, 0L)) {
        case ((a, b), (c, d)) => (a + c, b + d)
      }
    else if (f.getName.endsWith(".parquet")) (1L, f.length()) else (0L, 0L)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  def docsFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.text, d.text.length)).asJava, docSchema)

  /** Writes `docs` as the parquet corpus at `path` unless it is there. */
  def docsParquet(spark: SparkSession, docs: Seq[Gen.Doc], path: String): Unit =
    if (!new File(path, "_SUCCESS").exists())
      docsFrame(spark, docs).repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
}

import Workloads._

/** The paper's pipeline: one gzipped NDJSON object in, one sorted zstd
  * Parquet file out, over a pool of `gen.Findings` objects.
  */
final class ConvertWorkload(c: Ctx) extends Workload {
  val unit = "MB"
  private var objs: Seq[Gen.FindingsObject] = Nil
  private val outs = mutable.Map[Int, (String, StructType)]()
  private val results = mutable.ArrayBuffer[(Int, ConvertJob.ConvertResult, Long)]()

  def prepare(): Unit = objs = Gen.findings(c.inputs, c.seed, 1.0)
  override def opsPerRound: Int = Gen.ObjectSchedule.size

  private var warmups = 0

  /** One round over the pool per set-up. */
  def warmup(spark: SparkSession): Unit = objs.foreach { o =>
    ConvertJob.run(spark, o.path, s"${c.scratch}/warm-$warmups.zst.parquet", singleFile = true)
    warmups += 1
  }

  /** `ConvertJob.run` as its two halves, so the traced run can time schema
    * inference apart: `run` is exactly this read followed by `runOn`.
    */
  def op(spark: SparkSession, i: Int): Double = {
    val slot = i % objs.size
    val o = objs(slot)
    val out = s"${c.scratch}/out-${results.size}.zst.parquet"
    val raw = c.tracer.span("ConvertJob.infer") {
      spark.read.option("mode", ConvertJob.DefaultParseMode).json(o.path)
    }
    val res = c.tracer.span("ConvertJob.runOn") { ConvertJob.runOn(raw, out, singleFile = true) }
    outs(slot) = (out, raw.schema)
    results += ((slot, res, new File(out).length()))
    o.ndjsonBytes / 1e6
  }

  private def leaves(prefix: String, dt: DataType): Seq[(String, DataType)] = dt match {
    case st: StructType =>
      st.fields.toSeq.flatMap(f => leaves(if (prefix.isEmpty) f.name else s"$prefix.${f.name}", f.dataType))
    case ArrayType(et, _) => leaves(prefix + "[]", et)
    case other => Seq(prefix -> other)
  }

  def check(spark: SparkSession): (Int, Seq[String], Double) = {
    val fails = mutable.ArrayBuffer[String]()
    results.foreach { case (slot, r, _) =>
      if (r.rows != objs(slot).records || r.codec != "zstd" || !r.sorted)
        fails += s"object $slot: result rows=${r.rows} codec=${r.codec} sorted=${r.sorted}"
    }
    var recovered = 0L
    outs.toSeq.sortBy(_._1).foreach { case (slot, (out, inferred)) =>
      val o = objs(slot)
      val df = spark.read.parquet(out)
      val times = df.select("time").collect().map(_.getLong(0))
      recovered += times.length
      if (times.length != o.records) fails += s"object $slot: ${times.length} rows, planted ${o.records}"
      if (times.sliding(2).exists(p => p.length == 2 && p(0) > p(1)))
        fails += s"object $slot: time decreases"
      val in = leaves("", inferred).toMap
      val got = leaves("", df.schema).toMap
      val dt = got.collect { case (p, TimestampType) if p.endsWith(DtCoercion.Suffix) => p }.toSet
      if (dt != Gen.FindingsDtPaths) fails += s"object $slot: timestamp _dt paths $dt"
      val changed = got.keySet.filter(p => !dt(p) && in.get(p) != got.get(p))
      if (changed.nonEmpty || got.keySet != in.keySet) fails += s"object $slot: types changed at $changed"
      val groups = SortingColumnsStamp.readSortingColumns(out)
      if (groups.isEmpty || groups.exists(_ != Seq(("time", false, false))))
        fails += s"object $slot: sorting_columns $groups"
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(out), spark.sparkContext.hadoopConfiguration))
      try {
        val codecs = footer.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
        if (codecs != Set("ZSTD")) fails += s"object $slot: codecs $codecs"
      } finally footer.close()
    }
    val planted = outs.keys.toSeq.map(objs(_).records.toLong).sum
    (results.size + outs.size, fails.toSeq, if (planted == 0) 0.0 else recovered.toDouble / planted)
  }

  def layers(spark: SparkSession, ops: Seq[Span]): Map[String, Double] = {
    val t = c.tracer
    val n = math.max(1, t.named("ConvertJob.infer").size).toDouble
    val write = t.countsNamed("ConvertJob.runOn")
    // isolated probes on the largest object: the JSON scan alone and the
    // scan plus DtCoercion, both through the noop sink with the schema given
    val big = objs.maxBy(_.records)
    val schema = outs.collectFirst { case (s, (_, sc)) if objs(s) == big => sc }
      .getOrElse(spark.read.json(big.path).schema)
    val raw = spark.read.schema(schema).option("mode", ConvertJob.DefaultParseMode).json(big.path)
    val scan = medianOf((0 until 3).map(_ => secs(noop(raw))._2))
    val coerce = medianOf((0 until 3).map(_ => secs(noop(DtCoercion.coerceDtFields(raw)))._2))
    val stamp = meanOf(outs.values.toSeq.map { case (out, _) =>
      secs(SortingColumnsStamp.stamp(out, "time"))._2 })
    val inBytes = results.map(r => objs(r._1).ndjsonBytes).sum.toDouble
    Map(
      "ConvertJob.infer_s" -> spanMean(t, "ConvertJob.infer"),
      "ConvertJob.scan_tasks" -> t.countsNamed("ConvertJob.infer").tasks / n,
      "JsonScan.exec_s" -> scan,
      "DtCoercion.exec_s" -> coerce,
      "SortedWrite.s" -> spanMean(t, "ConvertJob.runOn"),
      "SortedWrite.spill_bytes" -> write.spill / n,
      "SortedWrite.shuffle_write_bytes" -> write.shuffleWrite / n,
      "SortedWrite.output_bytes" -> write.output / n,
      "SortedWrite.out_bytes_per_in_byte" -> (if (inBytes == 0) 0.0 else results.map(_._3).sum / inBytes),
      "SortingColumnsStamp.s" -> stamp)
  }
}

/** Whole-corpus dedup: `Dedup.fullDedupPipeline` over a documents corpus
  * with planted exact copies, near copies and shared paragraphs.
  */
final class DedupWorkload(c: Ctx) extends Workload {
  import DedupWorkload._
  val unit = "docs"
  private var docs: Vector[Gen.Doc] = Vector.empty
  private def path = s"${c.inputs}/dedup-s${c.seed}-n$Docs/docs.parquet"

  def prepare(): Unit = docs = Gen.dedupCorpus(c.inputs, c.seed, Docs)
  override def load(spark: SparkSession): Unit = docsParquet(spark, docs, path)

  /** One whole op per set-up: a smaller corpus plans other join strategies. */
  def warmup(spark: SparkSession): Unit = Dedup.fullDedupPipeline(spark.read.parquet(path)).collect()

  /** A call costs ~4 s whatever the corpus size (mostly per-job and
    * per-stage latency), so a run of a few seconds would otherwise time one
    * or two calls; three per round give `op_p50_s` a real median.
    */
  override def opsPerRound: Int = 3

  /** The pipeline call snaps the exact and near tiers eagerly; collecting
    * its result runs the paragraph tier and hands the checks every row.
    */
  def op(spark: SparkSession, i: Int): Double = {
    val out = c.tracer.span("Dedup.tiers") { Dedup.fullDedupPipeline(spark.read.parquet(path)) }
    outputs += c.tracer.span("Dedup.paragraph") { out.collect() }
    docs.size
  }

  private val outputs = mutable.ArrayBuffer[Array[Row]]()

  private def checkOne(out: Array[Row]): (Seq[String], Int, Int) = {
    val rows = out.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(4))).toMap
    val fails = mutable.ArrayBuffer[String]()
    var planted, caught = 0
    if (rows.size != docs.size) fails += s"${rows.size} rows for ${docs.size} docs"
    docs.foreach { d =>
      rows.get(d.id) match {
        case None => fails += s"doc ${d.id} missing"
        case Some((tier, canon, dropped)) => d.kind match {
          case "exact" =>
            planted += 1
            if (tier == "exact_dup") caught += 1 else fails += s"exact copy ${d.id} is $tier"
          case "near" =>
            planted += 1
            if (rows.get(d.orig).exists(_._2 == canon)) caught += 1
            else fails += s"near copy ${d.id} not clustered with ${d.orig}"
          case "original" =>
            val copy = copyOf(d.id)
            val kept = Seq(d.id, copy.id).count(id => rows.get(id).exists(_._1 == "keep"))
            if (kept != 1) fails += s"original ${d.id} and its ${copy.kind} copy keep $kept docs"
            if (copy.kind == "exact" && tier != "keep") fails += s"original ${d.id} of an exact copy is $tier"
          case "unique" if tier != "keep" => fails += s"unique doc ${d.id} is $tier"
          case "para" =>
            if (tier != "keep") fails += s"paragraph doc ${d.id} is $tier"
            else if (firstOfGroup(d.id) && dropped != 0)
              fails += s"paragraph doc ${d.id}, first of its group, dropped $dropped paragraphs"
            else if (!firstOfGroup(d.id) && dropped < 1)
              fails += s"paragraph doc ${d.id} kept its shared paragraph"
          case _ =>
        }
      }
    }
    (fails.toSeq, planted, caught)
  }

  private lazy val copyOf: Map[Long, Gen.Doc] =
    docs.filter(d => d.kind == "exact" || d.kind == "near").map(d => d.orig -> d).toMap

  private lazy val firstOfGroup: Set[Long] =
    docs.filter(_.kind == "para").groupBy(_.orig).values.map(_.map(_.id).min).toSet

  def check(spark: SparkSession): (Int, Seq[String], Double) = {
    val each = outputs.toSeq.map(checkOne)
    val planted = each.map(_._2).sum
    (each.size, each.flatMap(_._1), if (planted == 0) 1.0 else each.map(_._3).sum.toDouble / planted)
  }

  def layers(spark: SparkSession, ops: Seq[Span]): Map[String, Double] = {
    val t = c.tracer
    val corpus = spark.read.parquet(path)
    // the three hash kernels alone: called directly, as generated code calls
    // them, because at this corpus size their whole cost is below the
    // jitter of one Spark job; lshBands is a composed column, so it is
    // measured as a projection over replicas of the signatures, enough of
    // them (~1M rows) that its few hashes per row outweigh job jitter
    val toks = docs.map(d => new GenericArrayData(
      d.text.trim.split("\\s+").map(w => UTF8String.fromString(w): Any)): ArrayData)
    val sets = toks.map(tk => UnsafeArrayData.fromPrimitiveArray(HashKernels.shingleHashSet(tk, Dedup.ShingleK)))
    val pairs = sets.zip(sets.tail)
    val sigs = corpus.select(HashExpressions.shingleMinHash(Text.tokens(col("text")),
      k = Dedup.ShingleK, numPerm = Dedup.NumPerm).as("sig")).cache()
    val replicas = sigs.crossJoin(spark.range(LshReplicas).withColumnRenamed("id", "rep"))
    val kernels = Map(
      "kernel.shingleMinHash_ns_per_row" ->
        nsPerCall(toks)(HashKernels.shingleMinHash(_, Dedup.ShingleK, Dedup.NumPerm)),
      "kernel.shingleHashSet_ns_per_row" -> nsPerCall(toks)(HashKernels.shingleHashSet(_, Dedup.ShingleK)),
      "kernel.jaccardSorted_ns_per_pair" -> nsPerCall(pairs) { case (a, b) => HashKernels.jaccardSorted(a, b) },
      "kernel.lshBands_ns_per_row" -> nsPerRow(replicas, LshReplicas,
        Text.lshBands(col("sig"), Dedup.NumBands, Dedup.RowsPerBand), size(col("sig"))))
    sigs.unpersist()
    // connected components alone, on the snapped minhash graph of the corpus
    val edges = Dedup.minhashPairs(corpus, 0.7).select(col("a").as("src"), col("b").as("dst"))
      .localCheckpoint()
    val atThreshold = edges.count()
    val candidates = Dedup.minhashPairs(corpus, 0.0).count()
    t.span("ConnectedComponents.run") {
      noop(ConnectedComponents.run(corpus.select(col("doc_id").as("id")), edges))
    }
    val ccSpan = t.named("ConnectedComponents.run", "probe").last
    kernels ++ storeLifecycle(spark, corpus) ++ Map(
      "Dedup.tiers_s" -> spanMean(t, "Dedup.tiers"),
      "Dedup.paragraph_s" -> spanMean(t, "Dedup.paragraph"),
      "Dedup.pairs_per_candidate" -> (if (candidates == 0) 0.0 else atThreshold.toDouble / candidates),
      "ConnectedComponents.s" -> ccSpan.seconds,
      "ConnectedComponents.jobs" -> t.countsUnder(ccSpan).jobs.toDouble)
  }

  /** The persisted band store alone, on the same corpus: build it over the
    * first 70% of the doc ids, probe and append three 10% batches against
    * it, then compact the fragmented store.
    */
  private def storeLifecycle(spark: SparkSession, corpus: DataFrame): Map[String, Double] = {
    val t = c.tracer
    val store = s"${c.scratch}/store"
    val cut = docs.size * 7 / 10
    val step = docs.size / 10
    t.span("DedupStore.persist") { DedupStore.persistBandIndex(corpus.filter(col("doc_id") < cut), store) }
    (0 until 3).foreach { b =>
      val batch = corpus.filter(col("doc_id") >= cut + b * step && col("doc_id") < cut + (b + 1) * step)
      t.span("DedupStore.probe") { DedupStore.incrementalMinhashPairs(spark, batch, store, Threshold).collect() }
      t.span("DedupStore.append") { DedupStore.appendToBandIndex(batch, store) }
    }
    val (files, bytes) = dirBytes(new File(store))
    t.span("DedupStore.compact") { DedupStore.compactBandIndex(spark, store, store + "-compact") }
    val written = Seq("DedupStore.probe", "DedupStore.append", "DedupStore.compact")
      .map(t.countsNamed(_, "probe").output).sum
    val batchBytes = docs.filter(d => d.id >= cut && d.id < cut + 3 * step).map(_.text.length.toLong).sum
    def mean(name: String) = meanOf(t.named(name, "probe").map(_.seconds))
    Map(
      "DedupStore.persist_s" -> mean("DedupStore.persist"),
      "DedupStore.probe_s" -> mean("DedupStore.probe"),
      "DedupStore.append_s" -> mean("DedupStore.append"),
      "DedupStore.compact_s" -> mean("DedupStore.compact"),
      "DedupStore.store_files" -> files.toDouble,
      "DedupStore.store_bytes" -> bytes.toDouble,
      "DedupStore.store_bytes_per_doc" -> bytes.toDouble / (cut + 3 * step),
      "DedupStore.bytes_written_per_batch_byte" -> written.toDouble / batchBytes)
  }
}

object DedupWorkload {
  val Docs = 500
  val LshReplicas = 2048
  val Threshold = 0.7
}

/** IVF-PQ similarity search over a persisted, `bucket`-partitioned code and
  * float index: ADC shortlist, then exact rerank, for batches of queries.
  */
final class KnnWorkload(c: Ctx) extends Workload {
  import KnnWorkload._
  val unit = "queries"
  private var vectors: Array[Array[Float]] = Array.empty
  private var queries: Array[Array[Float]] = Array.empty
  private var ivf: IvfIndex.Model = _
  private var pq: PqIndex.Model = _
  private val answers = mutable.Map[Int, Array[Row]]()
  private def corpusPath = s"${c.inputs}/knn-s${c.seed}-n$Corpus-q$Queries/corpus.parquet"

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def frame(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v.toSeq) }.asJava, schema)

  def prepare(): Unit = {
    val (v, q) = Gen.embeddings(c.inputs, c.seed, Corpus, Queries)
    vectors = v
    queries = q
  }

  override def load(spark: SparkSession): Unit =
    if (!new File(corpusPath, "_SUCCESS").exists())
      frame(spark, vectors.indices.map(i => (i.toLong, vectors(i))))
        .repartition(spark.sparkContext.defaultParallelism).write.mode("overwrite").parquet(corpusPath)

  private def codes(spark: SparkSession) = spark.read.parquet(s"${c.scratch}/codes")
  private def floats(spark: SparkSession) = spark.read.parquet(s"${c.scratch}/floats")

  override def setup(spark: SparkSession): Unit = {
    val corpus = spark.read.parquet(corpusPath)
    ivf = c.tracer.span("IvfIndex.fit") { IvfIndex.fit(corpus.limit(2048).coalesce(1), k = 16, maxIter = 5) }
    pq = c.tracer.span("PqIndex.fit") {
      PqIndex.fit(corpus.limit(2048).coalesce(1), m = 16, numCodes = 16, maxIter = 10)
    }
    c.tracer.span("index.build") {
      Bucketing.writePartitioned(PqIndex.assign(ivf, pq, corpus), s"${c.scratch}/codes", Seq("bucket"))
      Bucketing.writePartitioned(IvfIndex.assign(ivf, corpus), s"${c.scratch}/floats", Seq("bucket"))
    }
  }

  def warmup(spark: SparkSession): Unit = search(spark, 0)

  /** Op `i`'s queries: the query pool's batches in turn, round after round. */
  private def batch(i: Int) = {
    val b = i % (queries.length / BatchQueries)
    (b * BatchQueries until (b + 1) * BatchQueries).map(j => (QueryIdBase + j, queries(j)))
  }

  private def search(spark: SparkSession, i: Int): Array[Row] =
    PqIndex.searchIndexed(ivf, pq, frame(spark, batch(i)), codes(spark), floats(spark), k = K).collect()

  def op(spark: SparkSession, i: Int): Double = {
    answers(i) = c.tracer.span("PqIndex.search") { search(spark, i) }
    BatchQueries
  }

  private val exactTopK = mutable.Map[Long, Set[Long]]()

  /** Exact cosine top-K of `q` over the corpus, in plain Scala. */
  private def exact(q: Array[Float]): Set[Long] = {
    def unit(v: Array[Float]) = { val n = math.sqrt(v.map(x => x.toDouble * x).sum); v.map(_ / n) }
    val u = unit(q)
    vectors.indices.map { i =>
      val v = vectors(i)
      var dot = 0.0
      var norm = 0.0
      var j = 0
      while (j < v.length) { dot += u(j) * v(j); norm += v(j).toDouble * v(j); j += 1 }
      (dot / math.sqrt(norm), i.toLong)
    }.sortBy(x => (-x._1, x._2)).take(K).map(_._2).toSet
  }

  def check(spark: SparkSession): (Int, Seq[String], Double) = {
    val fails = mutable.ArrayBuffer[String]()
    var hits, total = 0
    answers.toSeq.sortBy(_._1).foreach { case (i, rows) =>
      val byQuery = rows.groupBy(_.getLong(0))
      batch(i).foreach { case (qid, q) =>
        val got = byQuery.getOrElse(qid, Array.empty).sortBy(_.getInt(2))
        val sims = got.map(_.getDouble(3))
        if (got.length != K) fails += s"query $qid: ${got.length} rows"
        if (sims.sliding(2).exists(p => p.length == 2 && p(0) < p(1))) fails += s"query $qid: sim increases"
        hits += (got.map(_.getLong(1)).toSet & exactTopK.getOrElseUpdate(qid, exact(q))).size
        total += K
      }
    }
    (answers.size, fails.toSeq, if (total == 0) 0.0 else hits.toDouble / total)
  }

  def layers(spark: SparkSession, ops: Seq[Span]): Map[String, Double] = {
    val t = c.tracer
    val all = new Counts
    ops.foreach(s => all += t.countsUnder(s))
    // the two vector kernels alone, as projections over every stored row
    // crossed with 256 queries: ADC tables against stored codes, and query
    // against stored float vectors for the rerank cosine
    val q = frame(spark, (0 until KernelQueries).map(j => (j.toLong, queries(j))))
      .select(col("vec_id").as("rep"), pq.adcTable(col("embedding")).as("tbl"), col("embedding").as("qv"))
    val adcRows = codes(spark).select("codes").crossJoin(broadcast(q.select("rep", "tbl")))
    val cosRows = floats(spark).select(col("embedding").as("cv")).crossJoin(broadcast(q.select("rep", "qv")))
    val kernels = Map(
      "kernel.adcScore_ns_per_row" -> nsPerRow(adcRows, KernelQueries,
        pq.adcScore(col("tbl"), col("codes")), size(col("tbl")) + size(col("codes"))),
      "kernel.cosine_ns_per_row" -> nsPerRow(cosRows, KernelQueries,
        Vectors.cosine(col("qv"), col("cv")), size(col("qv")) + size(col("cv"))))
    kernels ++ Map(
      "IvfIndex.fit_s" -> medianOf(t.named("IvfIndex.fit", "setup").map(_.seconds)),
      "PqIndex.fit_s" -> medianOf(t.named("PqIndex.fit", "setup").map(_.seconds)),
      "Bucketing.index_build_s" -> medianOf(t.named("index.build", "setup").map(_.seconds)),
      "PqIndex.search_s" -> spanMean(t, "PqIndex.search"),
      "PqIndex.rows_read_per_query" -> all.inputRows / math.max(1.0, ops.size * BatchQueries.toDouble))
  }
}

object KnnWorkload {
  val Corpus = 2000
  val BatchQueries = 32
  val Queries = 32 * 8
  val K = 10
  val QueryIdBase = 1000000000L
  val KernelQueries = 256
}
