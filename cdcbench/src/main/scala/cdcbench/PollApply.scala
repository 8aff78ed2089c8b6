package cdcbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Cdc
import graft.core.ChangeEnvelope
import graft.streaming.{CdcPoll, JdbcApply}

/** Polling capture: the generator appends INSERT commits to a Derby table;
  * `Cdc.stream(mode=polling)` picks them up by the `id` polling column, the
  * chain tags them `_op=insert`, and `JdbcApply` appends them to a second
  * Derby database. Row `id` carries image `Db.image(seed, id)`. */
object PollApply extends StreamChain {
  val name = "poll_apply"
  val rowsPerCommit = 20
  val ratePerS = 4000
  val sourceLayer = "PollingSource"
  /** Rows in the source table before the stream starts (not replayed). */
  val Preload = 10000
  /** Rows of each recovery's backlog. */
  val BacklogRows = 20000

  private def lastId(commit: Int): Long = Preload.toLong + (commit + 1L) * rowsPerCommit
  private def total(args: Args): Long = lastId(warmupCommits + openLoopCommits(args) - 1) + Recoveries * BacklogRows

  def inputDigest(args: Args): String = {
    val d = new Stats.Digest
    d.add(s"$name;$Preload;$rowsPerCommit;$periodNs;${openLoopCommits(args)};$BacklogRows;")
    (1L to total(args)).foreach { id => val (n, v) = Db.image(args.seed, id); d.add(s"$id,$n,$v;") }
    d.hex
  }

  protected def applyBatch(ctx: Ctx, batch: DataFrame, batchId: Long): Unit =
    ctx.call("JdbcApply.apply", "JdbcApply")(
      JdbcApply(Db.spec("tgt"), "TGT", Seq("id"))(batch, batchId))

  protected def open(ctx: Ctx): ChainSource = {
    val seed = ctx.args.seed
    val src = Db.create("src")
    Db.createTable(src, "SRC", ", CREATED_MS BIGINT")
    Db.load(src, "SRC", (1L to Preload).iterator.map { id => val (n, v) = Db.image(seed, id); (id, n, v) })
    val tgt = Db.create("tgt")
    Db.createTable(tgt, "TGT", ", CREATED_MS BIGINT")
    val gen = Db.connect("src")
    gen.setAutoCommit(false)
    val ins = gen.prepareStatement("INSERT INTO SRC (ID, NAME, V, CREATED_MS) VALUES (?, ?, ?, ?)")
    var nextId = Preload + 1L
    def insert(n: Int): Unit = {
      val now = System.currentTimeMillis()
      (0 until n).foreach { _ =>
        val (nm, v) = Db.image(seed, nextId)
        ins.setLong(1, nextId); ins.setString(2, nm); ins.setDouble(3, v); ins.setLong(4, now)
        ins.addBatch()
        nextId += 1
      }
      ins.executeBatch()
      gen.commit()
    }
    val markConn = Db.connect("tgt")
    val options = Map("mode" -> "polling", "url" -> Db.url("src"), "table.name" -> "SRC",
      "polling.column" -> "id", "polling.interval" -> "0")

    new ChainSource {
      def start(handler: (DataFrame, Long) => Unit): StreamingQuery =
        Cdc.stream(ctx.spark, options).df
          .withColumn("_op", lit(ChangeEnvelope.Insert))
          .writeStream
          .option("checkpointLocation", ctx.path("checkpoint"))
          .trigger(CdcPoll.trigger(options))
          .foreachBatch(handler)
          .start()
      def commit(i: Int): Int = { insert(rowsPerCommit); rowsPerCommit }
      def writeBacklog(): Int = {
        (0 until BacklogRows / 1000).foreach(_ => insert(1000))
        BacklogRows
      }
      def mark(): Long = Db.scalar(markConn, "SELECT COALESCE(MAX(ID), 0) FROM TGT")
      def batchOf(calls: Seq[ApplyCall]): Int => Option[Long] = { i =>
        val last = lastId(warmupCommits + i)
        calls.find(_.mark >= last).map(_.batchId)
      }
      def verify(report: Report, corruptOne: Boolean): Unit = {
        if (corruptOne) Db.corruptOne(tgt, "TGT")
        val model = (Preload + 1L until nextId).map(id => id -> Db.image(seed, id)).toMap
        report.attempted += model.size
        report.failed += Db.mismatches(Db.rows(tgt, "TGT"), model)
      }
    }
  }
}
