package cdcbench

/** The per-layer metrics every traced run reports, with their units. A
  * layer a workload does not exercise reports 0. */
object Layers {
  val Families: Seq[String] = Seq("CoreQueries", "PipelineQueries")

  val all: Seq[(String, String)] = Seq(
    "stream.batches" -> "count",
    "stream.trigger_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "gen.late_ms" -> "ms",
    "backlog.max_rows" -> "rows",
    "recovery.restart_s" -> "s",
    "PollingSource.rows_read" -> "rows",
    "PollingSource.scan_task_s" -> "s",
    "EnvelopeStream.latest_offset_ms" -> "ms",
    "ChangeEnvelope.flatten_s" -> "s",
    "ChangeEnvelope.rows" -> "rows",
    "JdbcApply.call_ms" -> "ms",
    "JdbcApply.busy_s" -> "s",
    "JdbcApply.rows_per_s" -> "rows/s",
    "JdbcApply.task_s" -> "s",
    "JdbcApply.shuffle_write_bytes" -> "bytes",
    "SnapshotCapture.capture_s" -> "s",
    "SnapshotDiff.changes_s" -> "s",
    "SnapshotDiff.changes" -> "rows",
    "SnapshotDiff.dirty_bucket_ratio" -> "ratio",
    "SnapshotCapture.commit_s" -> "s") ++
    Families.flatMap(f => Seq(
      s"$f.construct_s" -> "s",
      s"$f.exec_s" -> "s",
      s"$f.jobs" -> "count",
      s"$f.tasks" -> "count",
      s"$f.input_bytes" -> "bytes",
      s"$f.shuffle_write_bytes" -> "bytes",
      s"$f.executor_run_s" -> "s",
      s"$f.executor_deser_s" -> "s",
      s"$f.scheduler_delay_s" -> "s",
      s"$f.spill_bytes" -> "bytes")) ++
    QuerySuite.Timed.map(q => s"query.$q.s" -> "s") ++ Seq(
      "storage.blocks_held" -> "count",
      "jvm.peak_heap_mb" -> "MB",
      "trace.coverage" -> "ratio",
      "trace.hook_s" -> "s")

  /** `JdbcApply` figures from its call spans and its job group. */
  def jdbcApply(ctx: Ctx, rows: Long): Unit = {
    val calls = ctx.tracer.all.filter(_.name == "JdbcApply.apply").map(_.durNs / 1e6)
    val busyS = calls.sum / 1000.0
    val t = ctx.layers.of("JdbcApply")
    val r = ctx.report
    r.layer("JdbcApply.call_ms", if (calls.isEmpty) 0.0 else Stats.median(calls), "ms")
    r.layer("JdbcApply.busy_s", busyS, "s")
    r.layer("JdbcApply.rows_per_s", if (busyS > 0) rows / busyS else 0.0, "rows/s")
    r.layer("JdbcApply.task_s", ctx.layers.of("JdbcApply", Set("result")).runMs / 1000.0, "s")
    r.layer("JdbcApply.shuffle_write_bytes", t.shuffleWriteBytes.toDouble, "bytes")
  }
}
