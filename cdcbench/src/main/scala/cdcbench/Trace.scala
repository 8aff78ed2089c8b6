package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is 0 for a root span;
  * all spans of one run share the run's trace. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * measured runs pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  /** Parent for spans opened on threads that have no open span (the
    * stream execution thread, the generator). */
  @volatile var phase: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val open: Long = current.get
      val parent = if (open != 0L) open else phase
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(open)
      }
    }

  /** A phase span: later spans from any thread nest under it. */
  def inPhase[T](name: String)(body: => T): T =
    if (!enabled) body
    else span(name) {
      val prev = phase
      phase = current.get
      try body finally phase = prev
    }

  /** Records an interval measured elsewhere (a streaming trigger). */
  def record(name: String, startNs: Long, endNs: Long, parent: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  /** Re-parents each `child` span under the `parent`-named sibling whose
    * interval holds it (to within the millisecond the progress reports). */
  def nest(child: String, parent: String): Unit = if (enabled) {
    val ss = all
    val ps = ss.filter(_.name == parent)
    val moved = ss.map { s =>
      if (s.name != child) s
      else ps.find(p => p.parent == s.parent && s.startNs >= p.startNs - 1000000L &&
          s.endNs <= p.endNs + 1000000L)
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    }
    spans.clear()
    spans.addAll(moved.asJava)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def clear(): Unit = spans.clear()

  /** Length of the union of `intervals`. */
  private def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Share of the `phases` spans' wall time that their child spans cover. */
  def coverage(phases: Set[String]): Double = {
    val ss = all
    val ps = ss.filter(s => phases.contains(s.name))
    val wall = ps.map(_.durNs).sum.toDouble
    if (wall <= 0) 0.0
    else ps.map(p => covered(ss.filter(_.parent == p.id)
      .map(k => (math.max(k.startNs, p.startNs), math.min(k.endNs, p.endNs)))
      .filter { case (a, b) => b > a })).sum / wall
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfNs(s: Span, spans: Seq[Span]): Long =
    s.durNs - covered(spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)))

  def toJson: String = {
    val ss = all
    ss.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s, ss)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Task totals for one job group and one stage kind. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var deserMs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def +=(o: TaskTotals): Unit = {
    tasks += o.tasks; runMs += o.runMs; deserMs += o.deserMs
    schedDelayMs += o.schedDelayMs; inputBytes += o.inputBytes
    recordsRead += o.recordsRead; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** Spark-listener totals keyed by the job group the benchmark sets around
  * each layer call. A task is `jdbc` when it reads rows but no file bytes
  * (a JDBC range scan), `scan` when it reads files, `map` when it writes
  * shuffle output, and `result` otherwise. */
final class LayerListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val totals = mutable.Map.empty[(String, String), TaskTotals]
  private val jobs = mutable.Map.empty[String, Long]
  @volatile var hookNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    hookNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    synchronized { jobs(g) = jobs.getOrElse(g, 0L) + 1 }
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val g = Option(stageGroup.get(e.stageId)).getOrElse("none")
      val kind =
        if (m.inputMetrics.recordsRead > 0 && m.inputMetrics.bytesRead == 0) "jdbc"
        else if (m.inputMetrics.recordsRead > 0) "scan"
        else if (m.shuffleWriteMetrics.bytesWritten > 0) "map"
        else "result"
      val t = new TaskTotals
      t.tasks = 1
      t.runMs = m.executorRunTime
      t.deserMs = m.executorDeserializeTime
      t.schedDelayMs = math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      t.inputBytes = m.inputMetrics.bytesRead
      t.recordsRead = m.inputMetrics.recordsRead
      t.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      t.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      synchronized { totals.getOrElseUpdate((g, kind), new TaskTotals) += t }
    }
  }

  /** Totals of `group`, over the given stage kinds (all kinds by default). */
  def of(group: String, kinds: Set[String] = Set("jdbc", "scan", "map", "result")): TaskTotals =
    synchronized {
      val t = new TaskTotals
      totals.foreach { case ((g, k), v) => if (g == group && kinds.contains(k)) t += v }
      t
    }

  def jobsOf(group: String): Long = synchronized(jobs.getOrElse(group, 0L))

  def reset(): Unit = synchronized { totals.clear(); jobs.clear(); hookNs = 0L }
}

/** One streaming trigger as `StreamingQueryProgress` reports it. */
final case class TriggerProgress(batchId: Long, startMs: Long, rows: Long, durations: Map[String, Long])

final class ProgressListener extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[TriggerProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    triggers.add(TriggerProgress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, d))
  }
  def all: Seq[TriggerProgress] = triggers.asScala.toSeq
}
