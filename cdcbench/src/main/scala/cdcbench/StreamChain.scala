package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** One `JdbcApply` call made by the stream's batch handler. `mark` is what
  * the target showed right after the call, when the chain can read it. */
final case class ApplyCall(batchId: Long, startNs: Long, endNs: Long, mark: Long)

/** The source side of a capture→apply chain, built in set-up. */
trait ChainSource {
  /** Starts the query; every micro-batch goes through `handler`. */
  def start(handler: (DataFrame, Long) => Unit): StreamingQuery
  /** Commits generator commit `i` (warm-up and open-loop commits share one
    * index space) and returns the rows it carried. */
  def commit(i: Int): Int
  /** Commits the next backlog while the query is stopped; returns its rows. */
  def writeBacklog(): Int
  /** What the target shows after a call, recorded as [[ApplyCall.mark]]. */
  def mark(): Long
  /** For each open-loop commit, the batch that applied it (None if none). */
  def batchOf(calls: Seq[ApplyCall]): Int => Option[Long]
  /** Compares the target with the generator's model; adds to the tally. */
  def verify(report: Report, corruptOne: Boolean): Unit
}

/** The open-loop capture→apply workloads: warm-up, an open-loop phase at a
  * fixed commit rate, then four rounds of stop, backlog, restart from the
  * checkpoint and drain. Commit-to-apply latency runs from each commit's due time to the
  * return of the `JdbcApply` call that applied it. */
abstract class StreamChain extends Workload {
  /** Rows (or change events) per generator commit. */
  def rowsPerCommit: Int
  /** Open-loop rate in rows per second. */
  def ratePerS: Int
  /** Untimed set-up seconds of the same open loop. */
  val WarmupSeconds = 2
  def warmupCommits: Int = WarmupSeconds * ratePerS / rowsPerCommit
  /** Stop / backlog / restart / drain cycles; `bulk_s` is their total drain time. */
  val Recoveries = 4
  /** Layer whose `latestOffset` the trigger's offset phase times. */
  def sourceLayer: String

  def openLoopCommits(args: Args): Int = args.seconds * ratePerS / rowsPerCommit
  def periodNs: Long = 1000000000L * rowsPerCommit / ratePerS

  protected def open(ctx: Ctx): ChainSource

  /** Applies one batch; a traced run may time extra steps around it. */
  protected def applyBatch(ctx: Ctx, batch: DataFrame, batchId: Long): Unit

  def run(ctx: Ctx): Unit = {
    val report = ctx.report
    val tracer = ctx.tracer
    val src = open(ctx)
    val calls = new ConcurrentLinkedQueue[ApplyCall]()
    val handler = (b: DataFrame, id: Long) => {
      val t0 = System.nanoTime()
      applyBatch(ctx, b, id)
      val t1 = System.nanoTime()
      calls.add(ApplyCall(id, t0, t1, src.mark()))
      ()
    }
    def settle(q: StreamingQuery): Boolean =
      try { q.processAllAvailable(); true }
      catch { case NonFatal(e) =>
        println(s"[cdcbench] stream died: ${e.getMessage.linesIterator.take(1).mkString}")
        false
      }

    /** Commits `n` commits from index `first` on the open-loop schedule:
      * commit i is due `i * periodNs` after the start, whatever the chain
      * has applied by then. */
    final class OpenLoop(first: Int, val n: Int) {
      val dueNs = new Array[Long](n)
      val lateNs = new Array[Long](n)
      val doneNs = new Array[Long](n)
      val rows = new Array[Int](n)
      def run(): Unit = {
        val gen = new Thread(() => {
          val t0 = System.nanoTime() + 20000000L
          var i = 0
          while (i < n) {
            val due = t0 + i * periodNs
            var now = System.nanoTime()
            while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
            dueNs(i) = due
            lateNs(i) = now - due
            rows(i) = tracer.span("gen.commit")(src.commit(first + i))
            doneNs(i) = System.nanoTime()
            i += 1
          }
        }, "cdcbench-generator")
        gen.start()
        gen.join()
      }
    }

    // set-up: bootstrap the offsets, then run the same open loop untimed
    // until the chain's code is compiled and its batch size has settled
    val q1 = src.start(handler)
    var alive = settle(q1)
    val warm = warmupCommits
    new OpenLoop(0, warm).run()
    alive = alive && settle(q1)
    calls.clear()

    val loop = new OpenLoop(warm, openLoopCommits(ctx.args))
    val n = loop.n
    import loop.{dueNs, lateNs, doneNs, rows}
    ctx.timedStart()
    tracer.inPhase("open_loop") {
      loop.run()
      alive = alive && settle(q1)
    }
    q1.stop()
    val openCalls = calls.asScala.toSeq.sortBy(_.startNs)
    calls.clear()

    // recovery, four times: stop, commit a backlog, restart, drain
    val recoveries = (1 to Recoveries).map { _ =>
      val backlog = src.writeBacklog()
      calls.clear()
      val restartNs = System.nanoTime()
      val drainS = tracer.inPhase("recovery") {
        val q = tracer.span("stream.restart")(src.start(handler))
        alive = alive && settle(q)
        val s = (System.nanoTime() - restartNs) / 1e9
        q.stop()
        s
      }
      val firstCall = calls.asScala.map(_.startNs).minOption.getOrElse(restartNs)
      (backlog, drainS, (firstCall - restartNs) / 1e9)
    }
    // summed, not a median: one long window steadies the figure on a shared host
    val drainS = recoveries.map(_._2).sum
    val drainRate = recoveries.map(_._1).sum / drainS

    // untimed: latency per open-loop commit, backlog, correctness
    val batchOf = src.batchOf(openCalls)
    val endOf = openCalls.map(c => c.batchId -> c.endNs).toMap
    val lat = (0 until n).flatMap(i =>
      batchOf(i).flatMap(endOf.get).map(e => (e - dueNs(i)) / 1e6))
    val p50 = if (lat.nonEmpty) Stats.median(lat) else 0.0
    val tail = if (lat.nonEmpty) Stats.tail(lat) else Stats.Tail(50, 0.0, 0)
    report.endToEnd("latency_p50_ms") = (p50, "ms")
    report.endToEnd("bulk_s") = (drainS, "s")
    report.figure("commit_to_apply_p50_ms", p50, "ms")
    report.figure(f"commit_to_apply_p${tail.percentile}%.1f_ms", tail.value, "ms")
    report.figure("commit_to_apply_samples", lat.size.toDouble, "count")
    report.figure("drain_rows_per_s", drainRate, "rows/s")
    recoveries.zipWithIndex.foreach { case (r, i) => report.figure(s"drain_${i + 1}_s", r._2, "s") }
    report.figure("open_loop_rate_rows_per_s", ratePerS.toDouble, "rows/s")

    // backlog as each commit lands: rows committed so far minus rows applied
    val appliedAt = (0 until n).map(i => batchOf(i).flatMap(endOf.get).getOrElse(Long.MaxValue))
    val applied = appliedAt.indices.sortBy(appliedAt(_)).toArray
    var a = 0
    var appliedRows = 0L
    var committedRows = 0L
    val backlogs = (0 until n).map { i =>
      committedRows += rows(i)
      while (a < n && appliedAt(applied(a)) <= doneNs(i)) { appliedRows += rows(applied(a)); a += 1 }
      committedRows - appliedRows
    }
    val lateP99Ms = if (n > 0) Stats.percentile(lateNs.toSeq.map(_ / 1e6), 99) else 0.0
    val maxBacklog = if (backlogs.nonEmpty) backlogs.max else 0L
    report.layer("gen.late_ms", lateP99Ms, "ms")
    report.layer("backlog.max_rows", maxBacklog.toDouble, "rows")
    if (lateP99Ms > 50) report.invalid += f"generator p99 lateness $lateP99Ms%.1f ms > 50 ms"
    if (n >= 8) {
      // a stable chain holds its backlog level; an overloaded one keeps adding
      val q = n / 4
      val early = backlogs.slice(q, 2 * q).sum.toDouble / q
      val late = backlogs.takeRight(q).sum.toDouble / q
      if (late > 1.5 * early + ratePerS / 2)
        report.invalid += f"backlog grew from $early%.0f to $late%.0f rows through the open loop"
    }
    if (!alive) report.invalid += "the stream died"
    src.verify(report, ctx.args.inject.contains("row"))

    if (ctx.args.trace) {
      report.layer("recovery.restart_s", Stats.median(recoveries.map(_._3)), "s")
      StreamChain.streamLayers(ctx, sourceLayer)
    }
  }
}

object StreamChain {
  /** Per-layer metrics read from the triggers' progress and the listener. */
  def streamLayers(ctx: Ctx, sourceLayer: String): Unit = {
    val report = ctx.report
    org.apache.spark.CdcbenchBus.drain(ctx.spark.sparkContext)
    val nsPerMs = 1000000L
    val epochToNs = System.nanoTime() - System.currentTimeMillis() * nsPerMs
    val phases = ctx.tracer.all.filter(s => s.name == "open_loop" || s.name == "recovery")
    val triggers = ctx.progress.all.filter { t =>
      val s = t.startMs * nsPerMs + epochToNs
      phases.exists(p => s >= p.startNs - nsPerMs && s <= p.endNs)
    }
    triggers.foreach { t =>
      val s = t.startMs * nsPerMs + epochToNs
      val e = s + t.durations.getOrElse("triggerExecution", 0L) * nsPerMs
      phases.find(p => s >= p.startNs - nsPerMs && s <= p.endNs).foreach(p =>
        ctx.tracer.record("stream.trigger", s, math.min(e, p.endNs), p.id))
    }
    ctx.tracer.nest("JdbcApply.apply", "stream.trigger")
    ctx.tracer.nest("ChangeEnvelope.flatten", "stream.trigger")
    val data = triggers.filter(_.rows > 0)
    def med(key: String*): Double =
      if (data.isEmpty) 0.0 else Stats.median(data.map(t => key.map(t.durations.getOrElse(_, 0L)).sum.toDouble))
    report.layer("stream.batches", data.size.toDouble, "count")
    report.layer("stream.trigger_ms", med("triggerExecution"), "ms")
    report.layer("stream.planning_ms", med("queryPlanning"), "ms")
    report.layer("stream.wal_commit_ms", med("walCommit", "commitOffsets"), "ms")
    report.layer(s"$sourceLayer.latest_offset_ms", med("latestOffset"), "ms")
    val rows = data.map(_.rows).sum
    if (sourceLayer == "PollingSource") {
      report.layer("PollingSource.rows_read", rows.toDouble, "rows")
      report.layer("PollingSource.scan_task_s",
        ctx.layers.of("JdbcApply", Set("jdbc")).runMs / 1000.0, "s")
    }
    Layers.jdbcApply(ctx, rows)
    report.layer("trace.coverage", ctx.tracer.coverage(Set("open_loop", "recovery")), "ratio")
  }
}

