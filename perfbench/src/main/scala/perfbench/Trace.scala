package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the enclosing span (-1 for a
  * top-level span) and every span of one run shares `run`.
  */
final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
  var inputRows = 0L
  var snapBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    output += o.output; inputRows += o.inputRows; snapBytes += o.snapBytes
  }
}

/** Times calls into the program's public functions from outside and keeps
  * every span in memory. With counting on it also counts Spark work with a
  * listener: the id of the innermost open span rides a local property that
  * Spark copies into every job and stage it starts, so tasks are attributed
  * to the call that caused them.
  */
final class Tracer(run: String) {
  import Tracer.Key

  /** Tags the spans that follow (`setup`, `plain`, `traced`, `probe`). */
  var phase = "setup"
  private var sc: SparkContext = _
  private var counting = false

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0
  @volatile private var current = -1
  private val counts = mutable.HashMap[Int, Counts]()
  private val stageSpan = mutable.HashMap[Int, Int]()

  private def countsOf(span: Int): Counts = counts.synchronized(counts.getOrElseUpdate(span, new Counts))

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toInt).getOrElse(-1)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      countsOf(s).synchronized { countsOf(s).jobs += 1 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      stageSpan.synchronized(stageSpan(e.stageInfo.stageId) = s)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.synchronized(stageSpan.getOrElse(e.stageId, -1))
      val m = e.taskMetrics
      val c = countsOf(s)
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          c.output += m.outputMetrics.bytesWritten
          c.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
    // RDD blocks are what a snap (localCheckpoint/persist) stores; block
    // updates carry no job properties, so they go to the span open when the
    // update is handled (spans drain the listener bus before they close)
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid) {
        val c = countsOf(current)
        c.synchronized { c.snapBytes += i.memSize + i.diskSize }
      }
    }
  }

  /** Follows a new session; counting stays off until [[count]] turns it on. */
  def attach(context: SparkContext): Unit = {
    sc = context
    counting = false
  }

  /** Counting on registers the listener and tags jobs with the open span;
    * counting off leaves only the two clock reads per span.
    */
  def count(on: Boolean): Unit = if (on != counting) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    counting = on
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime()) :: open
    if (counting) {
      sc.setLocalProperty(Key, id.toString)
      current = id
    }
    try body
    finally {
      if (counting) org.apache.spark.perfbench.ListenerDrain(sc)
      val (_, _, t0) = open.head
      spans += Span(id, name, parent, s"$run/$phase", t0, System.nanoTime())
      open = open.tail
      if (counting) {
        current = open.headOption.map(_._1).getOrElse(-1)
        sc.setLocalProperty(Key, open.headOption.map(_._1.toString).orNull)
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Counts of `span` and every span beneath it. */
  def countsUnder(span: Span): Counts = {
    val children = spans.groupBy(_.parent)
    val total = new Counts
    def walk(id: Int): Unit = {
      counts.synchronized(counts.get(id)).foreach(total += _)
      children.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    walk(span.id)
    total
  }

  /** Spans named `name` (at any depth) of one phase, and their summed counts. */
  def named(name: String, phase: String = "traced"): Seq[Span] =
    spans.filter(s => s.name == name && s.run == s"$run/$phase").toSeq

  def countsNamed(name: String, phase: String = "traced"): Counts = {
    val total = new Counts
    named(name, phase).foreach(s => total += countsUnder(s))
    total
  }

  /** Spans as JSON lines, written when the run ends. */
  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    val c = counts.synchronized(counts.get(s.id))
    val cs = c.fold("") { x =>
      s""","jobs":${x.jobs},"tasks":${x.tasks},"task_ms":${x.taskMs},""" +
        s""""shuffle_write":${x.shuffleWrite},"spill":${x.spill},"output":${x.output},""" +
        s""""snap_bytes":${x.snapBytes}"""
    }
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}$cs}"""
  }
}

object Tracer {
  val Key = "perfbench.span"
}
