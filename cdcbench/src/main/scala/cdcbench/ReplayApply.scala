package cdcbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.Cdc
import graft.streaming.JdbcApply

/** Listening-mode capture through envelope replay: the generator drops
  * Debezium-shaped envelope files (20% inserts, 60% updates, 20% deletes
  * over Zipf-skewed keys of a pre-loaded table), `Cdc.stream(mode=listening,
  * envelope.replay.dir)` flattens them, and `JdbcApply` applies them by key
  * to a Derby table holding the same pre-loaded rows. */
object ReplayApply extends StreamChain {
  val name = "replay_apply"
  val rowsPerCommit = 100
  val ratePerS = 800
  val sourceLayer = "EnvelopeStream"
  val Keys = 20000
  /** Change events of each recovery's backlog. */
  val BacklogEvents = 18000
  val BacklogFile = 500
  val ZipfS = 1.1
  /** `source.ts_ms` is a per-change sequence from here: it orders changes
    * exactly, as a log position would. */
  val SeqBase = 1700000000000L

  val rowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType), StructField("v", DoubleType)))

  /** The whole change sequence of one run, and the table it leaves. */
  final class Plan(seed: Long, events: Int) {
    val bodies = new Array[String](events)
    val model = mutable.HashMap.empty[Long, (String, Double)]
    private val present = mutable.ArrayBuffer.empty[Long]
    private val slot = mutable.HashMap.empty[Long, Int]
    private val deleted = mutable.ArrayBuffer.empty[Long]
    private val rng = new SplittableRandom(seed)
    private val cdf = {
      val w = (0 until Keys).map(r => math.pow(r + 1.0, -ZipfS)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    private val shift = math.floorMod(Db.mix(seed, -1L), Keys.toLong)

    private def add(k: Long, img: (String, Double)): Unit = {
      model(k) = img; slot(k) = present.size; present += k
    }
    private def remove(k: Long): Unit = {
      model.remove(k)
      val i = slot.remove(k).get
      val last = present.remove(present.size - 1)
      if (last != k) { present(i) = last; slot(last) = i }
    }
    private def hotKey(): Long = {
      var tries = 0
      while (tries < 8) {
        val r = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
        val rank = if (r >= 0) r else -r - 1
        val k = (rank * 7919L + shift) % Keys
        if (model.contains(k)) return k
        tries += 1
      }
      present(rng.nextInt(present.size))
    }
    private def json(img: Option[(Long, (String, Double))]): String = img match {
      case Some((k, (n, v))) => s"""{"id":$k,"name":"$n","v":$v}"""
      case None => "null"
    }

    (0L until Keys).foreach(k => add(k, Db.image(seed, k)))
    private var fresh = Keys.toLong
    (0 until events).foreach { i =>
      val u = rng.nextDouble()
      val ver = i + 1L
      val (op, before, after) =
        if (u < 0.2) {
          val k = if (deleted.nonEmpty && rng.nextBoolean())
            deleted.remove(rng.nextInt(deleted.size))
          else { fresh += 1; fresh - 1 }
          val img = Db.image(seed, k, ver)
          add(k, img)
          ("c", None, Some(k -> img))
        } else if (u < 0.8) {
          val k = hotKey()
          val old = model(k)
          val img = Db.image(seed, k, ver)
          model(k) = img
          ("u", Some(k -> old), Some(k -> img))
        } else {
          val k = hotKey()
          val old = model(k)
          remove(k); deleted += k
          ("d", Some(k -> old), None)
        }
      bodies(i) = s"""{"op":"$op","before":${json(before)},"after":${json(after)},""" +
        s""""source":{"ts_ms":${SeqBase + i}},"ts_ms":"""
    }
  }

  private def events(args: Args): Int =
    (warmupCommits + openLoopCommits(args)) * rowsPerCommit + Recoveries * BacklogEvents

  def inputDigest(args: Args): String = {
    val d = new Stats.Digest
    d.add(s"$name;$Keys;$rowsPerCommit;$periodNs;${openLoopCommits(args)};$BacklogEvents;")
    new Plan(args.seed, events(args)).bodies.foreach(d.add)
    d.hex
  }

  @volatile private var flattened = 0L

  protected def applyBatch(ctx: Ctx, batch: DataFrame, batchId: Long): Unit =
    if (!ctx.args.trace)
      ctx.call("JdbcApply.apply", "JdbcApply")(
        JdbcApply(Db.spec("tgt"), "TGT", Seq("id"))(batch, batchId))
    else {
      // traced run only: materialise the flattened batch first, so the
      // envelope read and flatten are timed apart from the apply
      batch.persist()
      flattened += ctx.call("ChangeEnvelope.flatten", "ChangeEnvelope")(batch.count())
      ctx.call("JdbcApply.apply", "JdbcApply")(
        JdbcApply(Db.spec("tgt"), "TGT", Seq("id"))(batch, batchId))
      batch.unpersist()
    }

  override def run(ctx: Ctx): Unit = {
    super.run(ctx)
    if (ctx.args.trace) {
      val s = ctx.tracer.all.filter(_.name == "ChangeEnvelope.flatten").map(_.durNs).sum / 1e9
      ctx.report.layer("ChangeEnvelope.flatten_s", s, "s")
      ctx.report.layer("ChangeEnvelope.rows", flattened.toDouble, "rows")
    }
  }

  protected def open(ctx: Ctx): ChainSource = {
    val seed = ctx.args.seed
    val plan = new Plan(seed, events(ctx.args))
    val tgt = Db.create("tgt")
    Db.createTable(tgt, "TGT")
    Db.load(tgt, "TGT", (0L until Keys).iterator.map { k => val (n, v) = Db.image(seed, k); (k, n, v) })
    val dir = Paths.get(ctx.path("envelopes"))
    Files.createDirectories(dir)
    var next = 0
    var backlogFile = 1000000
    /** Writes envelopes [from, until) as file `c<index>.json`, atomically. */
    def drop(index: Int, from: Int, until: Int): Unit = {
      val now = System.currentTimeMillis()
      val sb = new StringBuilder
      (from until until).foreach(i => sb.append(plan.bodies(i)).append(now).append("}\n"))
      val tmp = dir.resolve(f"_c$index%06d.tmp")
      Files.write(tmp, sb.toString.getBytes("UTF-8"))
      Files.move(tmp, dir.resolve(f"c$index%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      next = until
    }
    val options = Map("mode" -> "listening", "envelope.replay.dir" -> dir.toString,
      "operation" -> "insert,update,delete")
    val checkpoint = ctx.path("checkpoint")

    new ChainSource {
      def start(handler: (DataFrame, Long) => Unit): StreamingQuery =
        Cdc.stream(ctx.spark, options, Some(rowSchema)).df
          .writeStream
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.ProcessingTime(0L))
          .foreachBatch(handler)
          .start()
      def commit(i: Int): Int = {
        drop(i, i * rowsPerCommit, (i + 1) * rowsPerCommit)
        rowsPerCommit
      }
      def writeBacklog(): Int = {
        val first = next
        while (next < first + BacklogEvents) {
          drop(backlogFile, next, math.min(first + BacklogEvents, next + BacklogFile))
          backlogFile += 1
        }
        next - first
      }
      def mark(): Long = 0L
      /** The file source logs, per batch, the files it read. */
      def batchOf(calls: Seq[ApplyCall]): Int => Option[Long] = {
        val entry = """"path":"[^"]*/c(\d+)\.json".*"batchId":(\d+)""".r.unanchored
        val logs = Files.list(Paths.get(checkpoint, "sources", "0")).iterator.asScala.toSeq
          .filterNot(_.getFileName.toString.startsWith("."))
        val byFile = logs.flatMap(p => Files.readAllLines(p).asScala).collect {
          case entry(c, b) => c.toInt -> b.toLong
        }.toMap
        i => byFile.get(warmupCommits + i)
      }
      def verify(report: Report, corruptOne: Boolean): Unit = {
        if (corruptOne) Db.corruptOne(tgt, "TGT")
        report.attempted += plan.bodies.length
        report.failed += Db.mismatches(Db.rows(tgt, "TGT"), plan.model)
      }
    }
  }
}
