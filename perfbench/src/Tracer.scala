package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span. `tags` holds its own job tag and every ancestor's,
  * so a job launched under a span is attributed to the whole chain. */
final class Span(val traceId: Int, val id: Long, val parent: Long,
    val name: String, val tags: List[String]) {
  val startMs: Long = System.currentTimeMillis()
  private val startNs = System.nanoTime()
  var endMs: Long = startMs
  var seconds: Double = 0.0
  def close(): Unit = {
    seconds = (System.nanoTime() - startNs) / 1e9
    endMs = System.currentTimeMillis()
  }
}

/** Spark counters of the jobs carrying one job tag. */
final class Counts {
  var jobs, stages, tasks, scanTasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spark listener keyed by the benchmark's job tags (`pb-<span id>`). */
final class TagListener extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counts]
  private val stageTags = mutable.HashMap.empty[Int, Seq[String]]

  private def counts(tag: String) = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.startsWith(Tracer.Prefix))).getOrElse(Nil)
    if (tags.nonEmpty) {
      tags.foreach(counts(_).jobs += 1)
      e.stageIds.foreach(s => stageTags.getOrElseUpdate(s, tags))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTags.get(e.stageInfo.stageId).foreach(_.foreach(counts(_).stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTags.get(e.stageId).foreach { tags =>
      val m = Option(e.taskMetrics)
      val info = e.taskInfo
      tags.foreach { t =>
        val c = counts(t)
        c.tasks += 1
        if (!info.successful) c.failedTasks += 1
        c.taskIntervals += ((info.launchTime, info.finishTime))
        m.foreach { m =>
          if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) c.scanTasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  def get(tag: String): Counts = synchronized(byTag.getOrElse(tag, new Counts))
}

/** Micro-batch facts from every streaming query: (trigger start ms, ms). */
final class BatchListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[(Long, Long)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration))
  }
}

/** Span recorder for the traced run. Disabled, `span` just runs its body:
  * untraced runs register no listener and set no job tag. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var traceId = 0
  val tagListener: Option[TagListener] =
    if (enabled) Some(new TagListener) else None
  val batchListener: Option[BatchListener] =
    if (enabled) Some(new BatchListener) else None
  tagListener.foreach(sc.addSparkListener)
  batchListener.foreach(spark.streams.addListener)

  /** Run `body` as span `name`, child of `parent` when given (spans opened
    * on pool threads) or else of this thread's open span. */
  def span[T](name: String, parent: Option[Span] = None)(body: => T): T =
    if (!enabled) body
    else {
      val par = parent.orElse(current.get)
      val id = ids.incrementAndGet()
      val s = new Span(traceId, id, par.map(_.id).getOrElse(0L), name,
        s"${Tracer.Prefix}$id" :: par.map(_.tags).getOrElse(Nil))
      val savedTags = sc.getJobTags()
      val savedSpan = current.get
      sc.clearJobTags()
      sc.addJobTags(s.tags.toSet)
      current.set(Some(s))
      try body
      finally {
        s.close()
        spans.add(s)
        current.set(savedSpan)
        sc.clearJobTags()
        sc.addJobTags(savedTags)
      }
    }

  /** Run `body` with `parent` as this thread's open span. */
  def within[T](parent: Option[Span])(body: => T): T = {
    val saved = current.get
    current.set(parent)
    try body finally current.set(saved)
  }

  /** Report the micro-batches of another session's streaming queries too. */
  def watch(session: SparkSession): Unit = batchListener.foreach(session.streams.addListener)

  /** The span open on this thread, to hand to work on other threads. */
  def open: Option[Span] = if (enabled) current.get else None

  def clear(): Unit = spans.clear()

  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))

  def counts(s: Span): Counts = tagListener.map(_.get(s"${Tracer.Prefix}${s.id}")).get

  /** Span wall time minus the part of it the given intervals cover. */
  def uncovered(s: Span, intervals: Iterable[(Long, Long)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double =
    uncovered(s, children.map(c => (c.startMs, c.endMs)))

  def driverGap(s: Span): Double = uncovered(s, counts(s).taskIntervals)
}

object Tracer {
  val Prefix = "pb-"
}
