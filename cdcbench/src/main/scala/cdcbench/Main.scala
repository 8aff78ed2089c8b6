package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 5,
    trace: Boolean = false,
    digestOnly: Boolean = false,
    inject: Option[String] = None,
    recordHashes: Option[String] = None,
    dumpCanonical: Option[String] = None)

object Args {
  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--digest-only" :: rest => parse(rest, a.copy(digestOnly = true))
    case "--inject" :: v :: rest => parse(rest, a.copy(inject = Some(v)))
    case "--record-hashes" :: v :: rest => parse(rest, a.copy(recordHashes = Some(v)))
    case "--dump-canonical" :: v :: rest => parse(rest, a.copy(dumpCanonical = Some(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
  }
}

/** What one run reports: the end-to-end metrics (measured run), the
  * per-layer metrics (traced run), the workload's own named figures (both
  * runs, printed as lines), and the correctness tally. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val invalid = mutable.ArrayBuffer.empty[String]

  def figure(name: String, v: Double, unit: String): Unit = figures(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
}

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val args: Args, val runDir: Path) {
  val tracer = new Tracer(args.trace)
  val layers = new LayerListener
  val progress = new ProgressListener
  val report = new Report
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var setupEndMs = -1L
  private var blocksMax = 0L

  /** Marks the end of set-up: the first timed operation starts now. */
  def timedStart(): Unit = if (setupEndMs < 0) {
    setupEndMs = System.currentTimeMillis()
    if (args.trace) { // set-up's spans and tasks stay out of the layer figures
      org.apache.spark.CdcbenchBus.drain(spark.sparkContext)
      layers.reset()
      tracer.clear()
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }
  def setupSeconds: Double = (setupEndMs - jvmStartMs) / 1000.0

  /** Runs `body` with Spark's job group set, so listener totals split by layer. */
  def group[T](g: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** A span around a call into one layer, its jobs grouped under that layer. */
  def call[T](span: String, group: String)(body: => T): T =
    tracer.span(span)(this.group(group)(body))

  /** Samples the blocks the block manager holds (cached and local-checkpoint
    * RDD partitions); the report keeps the maximum. */
  def sampleBlocks(): Unit = {
    val held = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    blocksMax = math.max(blocksMax, held)
  }
  def blocksHeldMax: Long = blocksMax

  def path(name: String): String = runDir.resolve(name).toString
}

trait Workload {
  def name: String
  /** SHA-256 over the inputs `args` makes; needs no Spark session. */
  def inputDigest(args: Args): String
  def run(ctx: Ctx): Unit
}

object Main {
  val workloads: Seq[Workload] = Seq(PollApply, ReplayApply, SnapDiffApply, QuerySuite)

  private def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** A fixed-cost CPU probe sized for four cores: hashes 100M longs in
    * four partitions. Attribution only; it never gates a run. */
  private def sentinel(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, 4).selectExpr("bit_xor(xxhash64(id)) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv.toList)
    val w = workloads.find(_.name == args.workload).getOrElse(throw new IllegalArgumentException(
      s"--workload must be one of ${workloads.map(_.name).mkString(", ")}"))
    if (args.digestOnly) {
      println(s"[cdcbench] input_digest ${w.inputDigest(args)}")
      return
    }
    val loadBefore = loadAvg()
    val runDir = Paths.get(".bench_build", "run", s"${w.name}-${args.seed}").toAbsolutePath
    deleteTree(runDir)
    Files.createDirectories(runDir)
    System.setProperty("derby.stream.error.file", runDir.resolve("derby.log").toString)
    // half the cores by default: the rest is left to the JVM's other
    // threads (JIT, GC, Derby, the generator), so a shared host does not
    // oversubscribe them and the figures measure the engine, not the
    // scheduler; on 4 shared cores, 2 ran as fast as 4 and spread less
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(1, Runtime.getRuntime.availableProcessors / 2).toString)
    val spark = graft.GraftSession.create(cpus)
    val ctx = new Ctx(spark, args, runDir)
    if (args.trace) {
      spark.sparkContext.addSparkListener(ctx.layers)
      spark.streams.addListener(ctx.progress)
      // report every trigger, idle ones too, so trigger spans tile the run
      spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "0")
    }
    val report = ctx.report
    println(s"[cdcbench] input_digest ${w.inputDigest(args)}")
    ctx.tracer.inPhase("run")(w.run(ctx))
    val sent = sentinel(spark)
    val loadAfter = loadAvg()
    org.apache.spark.CdcbenchBus.drain(spark.sparkContext)

    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    report.endToEnd("setup_s") = (ctx.setupSeconds, "s")
    report.figure("setup_s", ctx.setupSeconds, "s")
    report.figure("failed_ratio", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    report.layer("storage.blocks_held", ctx.blocksHeldMax.toDouble, "count")
    report.layer("jvm.peak_heap_mb", heapPeakMb, "MB")
    if (args.trace) {
      Files.write(runDir.resolve("trace.json"), ctx.tracer.toJson.getBytes("UTF-8"))
      report.layer("trace.hook_s", ctx.layers.hookNs / 1e9, "s")
      println(s"[cdcbench] trace ${runDir.resolve("trace.json")}")
    }
    println(s"[cdcbench] context nproc=${Runtime.getRuntime.availableProcessors} " +
      s"SPARK_GRAFT_CPUS=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset")} cores=$cpus " +
      f"load_before=$loadBefore%.2f load_after=$loadAfter%.2f sentinel_s=$sent%.3f")
    report.figures.foreach { case (k, (v, u)) => println(s"[cdcbench] metric $k ${num(v)} $u") }
    if (args.trace)
      report.perLayer.foreach { case (k, (v, u)) => println(s"[cdcbench] layer $k ${num(v)} $u") }
    if (report.invalid.nonEmpty)
      println(s"[cdcbench] INVALID open loop: ${report.invalid.mkString("; ")}")
    val metrics = (if (args.trace) Layers.all.map { case (k, u) =>
        k -> (report.perLayer.get(k).map(_._1).getOrElse(0.0), u) }
      else report.endToEnd.toSeq).map {
      case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""[cdcbench-result] {"correct": ${report.failed == 0 && report.attempted > 0}, """ +
      s""""attempted": ${report.attempted}, "failed": ${report.failed}, "metrics": {$metrics}}""")
    spark.stop()
    // keep the trace and the Derby log; drop checkpoints, envelopes and snapshots
    Files.list(runDir).iterator.asScala.filter(Files.isDirectory(_)).toSeq.foreach(deleteTree)
    System.out.flush()
    // engine and JDBC pool threads must not hold the process open
    sys.exit(0)
  }
}

