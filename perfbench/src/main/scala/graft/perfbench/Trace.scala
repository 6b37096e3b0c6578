package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch nanos; `parent` is 0 for
  * a root span; spans of one trigger or one query share `traceId`. */
final case class Span(id: Long, parent: Long, traceId: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Monotonic epoch nanos. */
  def now(): Long = base + System.nanoTime()
}

/** Records spans in memory around calls the benchmark makes into the
  * program, and tags the Spark jobs each call runs with the span's id
  * (a local property, which threads started inside the call inherit). */
final class Tracer(sc: SparkContext) {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, trace id)

  def span[A](name: String, traceId: Long = -1L)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val outer = Option(current.get())
    val parent = outer.map(_._1).getOrElse(0L)
    val trace = if (traceId >= 0) traceId else outer.map(_._2).getOrElse(id)
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    current.set((id, trace))
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = Clock.now()
    try body
    finally {
      val t1 = Clock.now()
      sc.setLocalProperty(Tracer.SpanKey, prevProp)
      outer match { case Some(o) => current.set(o); case None => current.remove() }
      spans.synchronized { spans += Span(id, parent, trace, name, t0, t1) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Spans as JSON lines, written once when the run ends. */
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.asJava)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Wall time of `s` in which none of the jobs in `w` ran, in ms. */
  def driverGapMs(s: Span, w: Work): Double =
    s.durNs / 1e6 - union(w.jobIntervals.toSeq.map { case (a, b) =>
      (math.max(a * 1000000L, s.startNs), math.min(b * 1000000L, s.endNs)) }) / 1e6

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark work attributed to one span: counted from the scheduler's own
  * events, keyed by the span id the job's local properties carry. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var recordsWritten, bytesWritten = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    jobIntervals ++= o.jobIntervals
  }
}

/** Scheduler listener: jobs, stages, tasks and task metrics per span. */
final class WorkListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span, ms)

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
  private def work(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobStart.put(e.jobId, (span, e.time))
    val w = work(span)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      val w = work(span)
      w.synchronized { w.jobIntervals += ((t0, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = work(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageSpan.getOrDefault(e.stageId, 0L))
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.recordsWritten += m.outputMetrics.recordsWritten
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Work of the given spans, summed. */
  def of(spans: Iterable[Long]): Work = {
    val out = new Work
    spans.foreach(s => Option(bySpan.get(s)).foreach(w => w.synchronized(out += w)))
    out
  }
}

/** Planning time of every query execution, from `QueryExecution.tracker`,
  * stamped with when it ended, so a sequential caller can assign it to its
  * spans by time. */
final class PhaseListener extends QueryExecutionListener {
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]() // (end ms, ms)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      planning.add((phases.map(_.endTimeMs).max,
        phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def planningMs(fromMs: Long, toMs: Long): Double =
    planning.asScala.collect { case (t, ms) if t >= fromMs && t <= toMs => ms }.sum
}

/** The listeners a traced run attaches, and their removal. */
final class TraceListeners(spark: SparkSession) {
  val work = new WorkListener
  val phases = new PhaseListener
  val streamStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]() // epoch ms
  private val streams = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      streamStarts.add(System.currentTimeMillis()); ()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
  spark.sparkContext.addSparkListener(work)
  spark.listenerManager.register(phases)
  spark.streams.addListener(streams)

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(work)
    spark.listenerManager.unregister(phases)
    spark.streams.removeListener(streams)
  }
}
