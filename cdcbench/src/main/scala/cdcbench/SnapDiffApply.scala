package cdcbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.Cdc
import graft.functions.CheckpointUtil
import graft.operators.SnapshotDiff
import graft.streaming.JdbcApply

/** Snapshot-differencing capture: round 0 of `Cdc.snapshotDiffApply` is the
  * initial sync into an empty target, made [[Syncs]] times into fresh
  * targets, `bulk_s` being their mean. Before each later round on the last
  * target, the generator applies an untimed churn of 0.25% of the rows
  * (half updates, a quarter deletes, a quarter inserts, one commit each),
  * and the round carries it over. */
object SnapDiffApply extends Workload {
  val name = "snapdiff_apply"
  val Rows = 20000
  /** Initial syncs of the same source, each into its own empty target. */
  val Syncs = 4
  val Churn = Rows / 400
  val WarmupRows = 2000
  val WarmupRounds = 1
  val MinRounds = 4
  val Buckets = 4096
  /** Rounds whose churn the input digest covers. */
  val DigestRounds = 16

  sealed trait Op
  final case class Upsert(id: Long, img: (String, Double), insert: Boolean) extends Op
  final case class Delete(id: Long) extends Op

  /** The source table and the seeded churn of each round. */
  final class Model(seed: Long, rows: Int) {
    val table = mutable.HashMap.empty[Long, (String, Double)]
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val rng = new SplittableRandom(seed)
    private var fresh = rows.toLong
    private var ver = 0L
    (0L until rows).foreach { k => table(k) = Db.image(seed, k); keys += k }

    private def pick(): Long = {
      var k = keys(rng.nextInt(keys.size))
      while (!table.contains(k)) k = keys(rng.nextInt(keys.size))
      k
    }
    /** The next round's churn, applied to the model as it is generated. */
    def churn(n: Int): Seq[Op] = (0 until n).map { j =>
      ver += 1
      if (j % 4 == 0) { val k = pick(); table.remove(k); Delete(k) }
      else if (j % 4 == 1) {
        val k = fresh; fresh += 1; keys += k
        val img = Db.image(seed, k, ver); table(k) = img; Upsert(k, img, insert = true)
      } else { val k = pick(); val img = Db.image(seed, k, ver); table(k) = img; Upsert(k, img, insert = false) }
    }
  }

  def inputDigest(args: Args): String = {
    val d = new Stats.Digest
    d.add(s"$name;$Rows;$Churn;$Buckets;")
    val m = new Model(args.seed, Rows)
    m.table.toSeq.sortBy(_._1).foreach { case (k, (n, v)) => d.add(s"$k,$n,$v;") }
    (0 until DigestRounds).foreach(_ => m.churn(Churn).foreach(op => d.add(op.toString)))
    d.hex
  }

  private def applyChurn(c: java.sql.Connection, table: String, ops: Seq[Op]): Seq[Long] = {
    val ins = c.prepareStatement(s"INSERT INTO $table (ID, NAME, V) VALUES (?, ?, ?)")
    val upd = c.prepareStatement(s"UPDATE $table SET NAME = ?, V = ? WHERE ID = ?")
    val del = c.prepareStatement(s"DELETE FROM $table WHERE ID = ?")
    try ops.map { op =>
      op match {
        case Upsert(k, (n, v), true) =>
          ins.setLong(1, k); ins.setString(2, n); ins.setDouble(3, v); ins.executeUpdate()
        case Upsert(k, (n, v), false) =>
          upd.setString(1, n); upd.setDouble(2, v); upd.setLong(3, k); upd.executeUpdate()
        case Delete(k) => del.setLong(1, k); del.executeUpdate()
      }
      System.nanoTime()
    } finally { ins.close(); upd.close(); del.close() }
  }

  def run(ctx: Ctx): Unit = {
    val seed = ctx.args.seed
    val report = ctx.report
    val tracer = ctx.tracer
    val conn = Db.create("src")
    val tgt = Db.create("tgt")
    def table(name: String, rows: Iterator[(Long, (String, Double))], c: java.sql.Connection): Unit = {
      Db.createTable(c, name)
      Db.load(c, name, rows.map { case (k, (n, v)) => (k, n, v) })
    }
    def options(src: String) = Map("url" -> Db.url("src"), "table.name" -> src,
      "polling.column" -> "id")
    /** One replication round; the traced run makes the same calls as
      * `Cdc.snapshotDiffApply`, one layer at a time. */
    def round(src: String, dst: String, state: String): Long =
      if (!ctx.args.trace)
        Cdc.snapshotDiffApply(ctx.spark, options(src), Seq("id"), state, Db.spec("tgt"), dst, Buckets)
      else {
        val r = ctx.call("SnapshotCapture.capture", "SnapshotCapture")(
          Cdc.snapshotCapture(ctx.spark, options(src), Seq("id"), state, Buckets))
        r.changes.persist()
        try {
          val n = ctx.call("SnapshotDiff.changes", "SnapshotDiff")(r.changes.count())
          ctx.call("JdbcApply.apply", "JdbcApply")(JdbcApply(Db.spec("tgt"), dst, Seq("id"))(r.changes, r.round))
          tracer.span("SnapshotCapture.commit")(r.commit())
          n
        } finally {
          r.changes.unpersist(blocking = false)
          CheckpointUtil.releaseRegistered()
        }
      }

    // set-up: the tables, then a warm-up loop on a small copy
    val warm = new Model(seed ^ 0x5DEECE66DL, WarmupRows)
    table("SRCW", warm.table.iterator, conn)
    Db.createTable(tgt, "TGTW")
    round("SRCW", "TGTW", ctx.path("warmup_state"))
    (1 to WarmupRounds).foreach { _ =>
      applyChurn(conn, "SRCW", warm.churn(WarmupRows / 400))
      round("SRCW", "TGTW", ctx.path("warmup_state"))
    }
    val model = new Model(seed, Rows)
    val initial = model.table.toMap
    table("SRC", initial.toSeq.sortBy(_._1).iterator, conn)
    (1 to Syncs).foreach(i => Db.createTable(tgt, s"TGT$i"))
    val dst = s"TGT$Syncs"
    val state = ctx.path(s"state$Syncs")

    ctx.timedStart()
    val syncs = (1 to Syncs).map { i =>
      val t0 = System.nanoTime()
      tracer.inPhase("initial_sync")(round("SRC", s"TGT$i", ctx.path(s"state$i")))
      val s = (System.nanoTime() - t0) / 1e9
      ctx.sampleBlocks()
      s
    }
    val syncS = syncs.sum / Syncs
    val rounds = mutable.ArrayBuffer.empty[Double]
    val latMs = mutable.ArrayBuffer.empty[Seq[Double]]
    val changes = mutable.ArrayBuffer.empty[Long]
    val roundsStart = System.nanoTime()
    while (rounds.size < MinRounds || System.nanoTime() - roundsStart < ctx.args.seconds * 1000000000L) {
      val committed = applyChurn(conn, "SRC", model.churn(Churn))
      val r0 = System.nanoTime()
      changes += tracer.inPhase("round")(round("SRC", dst, state))
      val r1 = System.nanoTime()
      rounds += (r1 - r0) / 1e9
      latMs += committed.map(c => (r1 - c) / 1e6)
      ctx.sampleBlocks()
    }
    // the steady rounds are the later half: round times keep falling
    // through the first half as the JIT compiles the full-size scan path
    val steady = rounds.size / 2
    val steadyLat = latMs.drop(steady).flatten.toSeq
    val tail = Stats.tail(steadyLat)
    report.endToEnd("latency_p50_ms") = (Stats.median(steadyLat), "ms")
    report.endToEnd("bulk_s") = (syncS, "s")
    report.figure("initial_sync_s", syncS, "s")
    syncs.zipWithIndex.foreach { case (s, i) => report.figure(s"initial_sync_${i + 1}_s", s, "s") }
    report.figure("round_p50_s", Stats.median(rounds.drop(steady).toSeq), "s")
    report.figure("rounds", rounds.size.toDouble, "count")
    report.figure("commit_to_apply_p50_ms", Stats.median(steadyLat), "ms")
    report.figure(f"commit_to_apply_p${tail.percentile}%.1f_ms", tail.value, "ms")
    report.figure("commit_to_apply_samples", tail.samples.toDouble, "count")

    if (ctx.args.inject.contains("row")) Db.corruptOne(tgt, dst)
    (1 until Syncs).foreach { i =>
      report.attempted += Rows
      report.failed += Db.mismatches(Db.rows(tgt, s"TGT$i"), initial)
    }
    report.attempted += Rows + rounds.size.toLong * Churn
    report.failed += Db.mismatches(Db.rows(tgt, dst), model.table)

    if (ctx.args.trace) layers(ctx, state, rounds.size, changes.sum)
  }

  /** Per-layer metrics: medians over the steady rounds, from their spans;
    * the dirty-bucket ratio from each round's digests against the last. */
  private def layers(ctx: Ctx, state: String, nRounds: Int, changed: Long): Unit = {
    val r = ctx.report
    org.apache.spark.CdcbenchBus.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.all
    val ids = spans.filter(_.name == "round").map(_.id)
    val roundIds = ids.drop(ids.size / 2).toSet
    def med(name: String): Double = {
      val xs = spans.filter(s => s.name == name && roundIds.contains(s.parent)).map(_.durNs / 1e9)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    r.layer("SnapshotCapture.capture_s", med("SnapshotCapture.capture"), "s")
    r.layer("SnapshotDiff.changes_s", med("SnapshotDiff.changes"), "s")
    r.layer("SnapshotCapture.commit_s", med("SnapshotCapture.commit"), "s")
    r.layer("SnapshotDiff.changes", changed.toDouble / math.max(1, nRounds), "rows")
    val digests = (0 to nRounds).map(i => ctx.spark.read.parquet(s"$state/round_$i/digests"))
    val dirty = (1 to nRounds).map(i => SnapshotDiff.dirtyBuckets(digests(i - 1), digests(i)).count())
    r.layer("SnapshotDiff.dirty_bucket_ratio",
      if (dirty.isEmpty) 0.0 else dirty.sum.toDouble / dirty.size / Buckets, "ratio")
    val scan = ctx.layers.of("SnapshotCapture", Set("jdbc"))
    r.layer("PollingSource.rows_read", scan.recordsRead.toDouble, "rows")
    r.layer("PollingSource.scan_task_s", scan.runMs / 1000.0, "s")
    Layers.jdbcApply(ctx, changed + Syncs.toLong * Rows)
    r.layer("trace.coverage", ctx.tracer.coverage(Set("initial_sync", "round")), "ratio")
  }
}
