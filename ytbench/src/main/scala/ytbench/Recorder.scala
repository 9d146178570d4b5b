package ytbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What one span's Spark work added up to. */
final class Counts {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, shuffleRead, shuffleWrite, spill, taskGcMs, outBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; taskGcMs += o.taskGcMs; outBytes += o.outBytes
  }
}

/** The benchmark's SparkListener. Every job is attributed to the span whose
  * id the submitting thread carried in the [[Spans.Prop]] local property
  * (Spark copies local properties into broadcast and subquery threads), and
  * its stages and tasks follow the job. Block updates keep an exact running
  * total of RDD-block storage (memory + disk) and its peak. */
final class Listener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Long, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private var peak = 0L

  private def counts(span: Long): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Prop)))
      .map(_.toLong).getOrElse(0L)
    counts(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counts(stageSpan.getOrElse(e.stageId, 0L))
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.taskGcMs += m.jvmGCTime
      c.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val name = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      stored += size - blocks.getOrElse(name, 0L)
      if (size == 0L) blocks.remove(name) else blocks(name) = size
      peak = math.max(peak, stored)
    }
  }

  /** Start a new peak window at the current storage level. */
  def resetPeak(): Unit = synchronized { peak = stored }
  def peakBytes: Long = synchronized(peak)

  /** Counts attributed to exactly this span (children excluded). */
  def own(span: Long): Counts = synchronized {
    val c = new Counts
    bySpan.get(span).foreach(c.add)
    c
  }
}

/** One recorded span: a benchmark-side call into a layer. */
final case class Span(id: Long, parent: Long, name: String, trace: String,
                      startNs: Long, endNs: Long, gcMs: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Spans nest; each carries its parent, a trace id (one per run, one per
  * serve request or maintain batch), start/end and JVM GC time. Counts
  * come from the [[Listener]] after [[settle]] drains the bus. */
final class Spans(sc: SparkContext, val runTrace: String) {
  val listener = new Listener
  sc.addSparkListener(listener)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Long, String)]
  private var nextId = 1L
  /** Nanoseconds spent inside the recorder itself. */
  var overheadNs = 0L

  def all: Seq[Span] = done.toSeq

  def apply[T](name: String, trace: String = null)(f: => T): T = timed(name, trace)(f)._1

  def timed[T](name: String, trace: String = null)(f: => T): (T, Span) = {
    val o0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val tr = Option(trace).orElse(stack.headOption.map(_._2)).getOrElse(runTrace)
    stack = (id, tr) :: stack
    sc.setLocalProperty(Spans.Prop, id.toString)
    val gc0 = Spans.gcMs()
    val start = System.nanoTime()
    overheadNs += start - o0
    try {
      val r = f
      val end = System.nanoTime()
      val s = Span(id, parent, name, tr, start, end, Spans.gcMs() - gc0)
      done += s
      (r, s)
    } finally {
      val o1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Spans.Prop, stack.headOption.map(_._1.toString).orNull)
      overheadNs += System.nanoTime() - o1
    }
  }

  /** Drain the listener bus so every counter is complete. */
  def settle(): Unit = org.apache.spark.ytbench.Bus.drain(sc)

  private def children: Map[Long, Seq[Span]] = done.toSeq.groupBy(_.parent)

  /** Counts of `s` and every span below it. */
  def inclusive(s: Span): Counts = {
    val kids = children
    val c = new Counts
    def go(x: Span): Unit = { c.add(listener.own(x.id)); kids.getOrElse(x.id, Nil).foreach(go) }
    go(s)
    c
  }

  def selfMs(s: Span): Double =
    Stats.selfTime(s.startNs, s.endNs,
      children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))) / 1e6

  /** The spans as JSON-ready rows, with self time and inclusive counts. */
  def rows: Seq[Map[String, Any]] = done.toSeq.sortBy(_.startNs).map { s =>
    val c = inclusive(s)
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "trace" -> s.trace,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_ms" -> s.wallMs,
      "self_ms" -> selfMs(s), "gc_ms" -> s.gcMs, "jobs" -> c.jobs,
      "stages" -> c.stages, "tasks" -> c.tasks, "cpu_ms" -> c.cpuNs / 1e6,
      "run_ms" -> c.runMs, "shuffle_read_b" -> c.shuffleRead,
      "shuffle_write_b" -> c.shuffleWrite, "spill_b" -> c.spill,
      "task_gc_ms" -> c.taskGcMs, "output_b" -> c.outBytes)
  }
}

object Spans {
  val Prop = "ytbench.span"

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }
}
