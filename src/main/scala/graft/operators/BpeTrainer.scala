package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashExpressions

/** Distributed BPE vocabulary induction — learn subword merges from a
  * corpus, the tokenizer-training step every pretraining pipeline runs
  * before it can count a single token.
  *
  * Algorithm (classic Sennrich-style trainer, re-expressed for Spark):
  *   1. ONE corpus pass reduces the text to the distinct-WORD frequency
  *      table — the scale lever: every later round iterates over distinct
  *      words (10⁶–10⁸ rows at 100 TB), never the corpus again.
  *   2. Each word starts as its character symbol sequence. Per round:
  *      adjacent symbol pairs are counted weighted by word frequency
  *      (explode → sum aggregate — map-side partials do the heavy
  *      lifting), the single most frequent pair comes back to the driver
  *      (ONE bounded row per round; ties broken lexicographically so
  *      training is deterministic), and the merge is applied per row by
  *      the codegen'd [[graft.functions.HashKernels.bpeMergePair]] kernel
  *      (greedy left-to-right, non-overlapping — the exact classic rule).
  *   3. Stop at `numMerges` merges, or earlier when the best pair's count
  *      drops below `minPairCount` (merging near-singletons buys no
  *      compression).
  *
  * Iterative-loop hygiene is the [[ConnectedComponents]] recipe: each
  * round's symbol table is lazily local-checkpointed and materialized BY
  * the round's own counting job (one blocking action per round), then
  * rewrapped with its MEASURED storage size (shims.realStats) so plan
  * depth and planning cost stay constant and join/agg estimates stay
  * truthful at any scale; superseded rounds drop their blocks one round
  * after they were last read. The loop runs in a cloned session with AQE
  * off (fixed-shape per-round plans; replan latency would tax every
  * round) and shuffle parallelism sized from the measured word-table
  * bytes — a laptop corpus gets single-task shuffles, a 100 TB corpus
  * gets thousands, and nothing global is mutated.
  *
  * The exact-correctness contract: [[referenceBpe]] is a plain-Scala
  * trainer over an in-memory word-count map; BpeSpec asserts the
  * distributed path learns the IDENTICAL merge sequence with identical
  * pair counts on real testdata.
  */
object BpeTrainer {

  /** One learned merge: rank = 0-based round, (left, right) the merged
    * symbol pair, pairCount its corpus frequency when chosen.
    */
  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** The distinct-word frequency table for `docs`: lowercase,
    * whitespace-split, empty tokens dropped. The ONLY corpus-wide pass of
    * a training run.
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(col(textCol)), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn up to `numMerges` BPE merges from `docs`. Returns the merge
    * table as (rank, left, right, pair_count) ordered by rank — the
    * artifact a tokenizer ships.
    */
  def learn(
      docs: DataFrame,
      numMerges: Int,
      minPairCount: Long = 2L,
      textCol: String = "text",
      pairDumpDir: Option[String] = None): DataFrame = {
    val caller = docs.sparkSession
    val merges = learnMerges(docs, numMerges, minPairCount, textCol, pairDumpDir)
    caller.createDataFrame(
      caller.sparkContext.parallelize(
        merges.map(m => Row(m.rank, m.left, m.right, m.pairCount)), 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** [[learn]], returning the driver-side merge list (bounded by
    * `numMerges` — the artifact is vocabulary-sized by definition).
    */
  /** `pairDumpDir`: the q95-eigenbasis dump-readback hook — when set,
    * every round's FULL aggregated pair-count table is written to
    * `<dir>/pairs_r<round>` (round carried as a data column) and the
    * round's argmax is selected from the READBACK, so the engine's
    * merge-sequence selection and a cross-engine replay (per-round
    * `row_number() over (order by pc desc, l, r) = 1`) operate on
    * byte-identical rows. The per-round counting and the greedy merge
    * application stay spec-closed (BpeSpec's bit-exact identity against
    * [[referenceBpe]]); the iterative argmax CHAIN — where a tie-break or
    * selection bug would corrupt every later round — becomes
    * hash-checkable. Dumps are written before the minPairCount decision;
    * a replay must apply the same `pc >= minPairCount` floor.
    */
  def learnMerges(
      docs: DataFrame,
      numMerges: Int,
      minPairCount: Long = 2L,
      textCol: String = "text",
      pairDumpDir: Option[String] = None): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val caller = docs.sparkSession
    val loop = org.apache.spark.sql.graft.shims.cloneSession(caller)
    loop.conf.set("spark.sql.adaptive.enabled", "false")

    def free(df: DataFrame): Unit =
      org.apache.spark.sql.graft.shims.unpersistCheckpoint(df)

    // seed: words → character symbol sequences, snapped eagerly once so
    // the loop parallelism below comes from a MEASURED size (the corpus
    // pass runs under the caller's normal adaptive conf; split(word, "")
    // is per-character — Spark's split never yields trailing empties here
    // because the pattern is empty)
    var words = org.apache.spark.sql.graft.shims.snap(
      wordCounts(docs, textCol).select(split(col("word"), "").as("syms"), col("cnt")),
      "bpe.docs", into = loop)
    val wordBytes = words.queryExecution.optimizedPlan.stats.sizeInBytes
    val measured = wordBytes < BigInt(1L << 50)
    val loopParts =
      if (measured) (wordBytes / (64L << 20) + 1).min(BigInt(200000)).toInt
      else caller.conf.get("spark.sql.shuffle.partitions", "200").toInt
    loop.conf.set("spark.sql.shuffle.partitions", loopParts.toString)

    val merges = ArrayBuffer.empty[Merge]
    var prev: Option[DataFrame] = None
    try {
      var round = 0
      var exhausted = false
      while (round < numMerges && !exhausted) {
        // adjacent pair counts weighted by word frequency; the single
        // most-frequent pair (ties: lexicographic, so training is a pure
        // function of the corpus) is the round's ONE driver-bound row
        val pairTable = words
          .select(col("cnt"), explode(when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(
                element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("pc"))
        val top: Option[Row] = pairDumpDir match {
          case Some(d) =>
            // dump-readback: the argmax selects over the very bytes a
            // cross-engine replay reads (Overwrite per round dir, so
            // repeat runs in one process stay idempotent). The readback
            // is a DRIVER-side parquet scan of the just-written files —
            // the dump is vocabulary-round-sized by construction (distinct
            // symbol pairs), so a Spark job for the argmax was pure
            // per-round latency: measured 16 rounds × ~0.15 s of plan +
            // schedule + footer-inference overhead for a KB-scale read.
            // Ordering is identical to the old `orderBy(pc desc, l, r)
            // .limit(1)`: max pc, ties by UNSIGNED BYTE-wise UTF-8
            // comparison — exactly Spark's UTF8String binary order.
            val path = s"$d/pairs_r$round"
            pairTable.withColumn("round", lit(round))
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .option("compression", "zstd").parquet(path)
            readbackArgmax(loop, path)
          case None =>
            pairTable
              .orderBy(col("pc").desc, col("l").asc, col("r").asc)
              .limit(1)
              .collect().headOption
        }
        top.filter(_.getLong(2) >= minPairCount) match {
          case None => exhausted = true
          case Some(row) =>
            val (l, r, pc) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += Merge(round, l, r, pc)
            // apply the merge and snap LAZILY: the next round's counting
            // job materializes the checkpoint blocks as it scans, so each
            // round costs exactly one blocking action (the collect above)
            val nextCk = org.apache.spark.sql.graft.shims.snap(words
              .select(HashExpressions.bpeMergePair(col("syms"), l, r).as("syms"),
                col("cnt")), "bpe.round", eager = false)
            val next = org.apache.spark.sql.graft.shims.realStats(nextCk)
            // the superseded table was last read by the job that built
            // `next`'s blocks — but that job is the NEXT round's count, so
            // release levels one round late, as in ConnectedComponents
            prev.foreach(free)
            prev = Some(words)
            words = next
            round += 1
        }
      }
      merges.toSeq
    } finally {
      prev.foreach(free)
      free(words)
    }
  }

  /** Driver-side argmax over a just-written per-round pair-count dump:
    * reads the parquet files back through parquet-hadoop (the same bytes
    * DuckDB's replay reads) and returns the (l, r, pc) row that
    * `ORDER BY pc DESC, l, r LIMIT 1` would — ties broken by unsigned
    * byte-wise UTF-8 comparison, which IS Spark's UTF8String/binary string
    * order (Java String.compareTo would differ on supplementary planes).
    * The dump is vocabulary-round-sized (distinct adjacent symbol pairs of
    * the word table), so a driver scan is microseconds against the ~0.15 s
    * plan/schedule/footer cost of the Spark readback job it replaces.
    */
  private def readbackArgmax(
      spark: SparkSession, path: String): Option[Row] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    def less(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    }
    var bl: Array[Byte] = null
    var br: Array[Byte] = null
    var bpc = Long.MinValue
    fs.listStatus(dir).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f.getPath)
          .withConf(conf)
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            val l = g.getBinary("l", 0).getBytes
            val r = g.getBinary("r", 0).getBytes
            val pc = g.getLong("pc", 0)
            if (pc > bpc ||
                (pc == bpc && (less(l, bl) || (java.util.Arrays.equals(l, bl) && less(r, br))))) {
              bl = l; br = r; bpc = pc
            }
            g = reader.read()
          }
        } finally reader.close()
      }
    if (bl == null) None
    else Some(Row(
      new String(bl, java.nio.charset.StandardCharsets.UTF_8),
      new String(br, java.nio.charset.StandardCharsets.UTF_8),
      bpc))
  }

  /** Exact in-memory reference trainer (the spec oracle): identical pair
    * counting (adjacent positions, overlapping counted), identical
    * deterministic tie-break (max count, then lexicographic (left,
    * right)), identical greedy left-to-right merge application. Drives
    * nothing at scale — it exists so the distributed path has a
    * bit-exact answer to match on small corpora.
    */
  def referenceBpe(
      wordCount: Map[String, Long],
      numMerges: Int,
      minPairCount: Long = 2L): Seq[Merge] = {
    var words = wordCount.toVector.map { case (w, c) =>
      (w.map(_.toString).toVector, c)
    }
    val merges = ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += c
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), pc) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (pc < minPairCount) exhausted = true
        else {
          merges += Merge(round, l, r, pc)
          words = words.map { case (syms, c) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                out += (l + r); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), c)
          }
          round += 1
        }
      }
    }
    merges.toSeq
  }
}
