package cdcbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CoreQueries, SparkEntry}

/** Registry queries over a fixed fixture (the sf0.01 tables under
  * `cdcbench/data/sf0.01`), each constructed and then executed into the
  * `noop` sink, once, in a fresh JVM. The seed rotates the visit order.
  * Each result's order-independent hash rides on the same execution
  * through `observe()` and is compared with `cdcbench/expected_hashes.json`. */
object QuerySuite extends Workload {
  val name = "query_suite"
  val DataDir = "cdcbench/data/sf0.01"
  val HashFile = "cdcbench/expected_hashes.json"

  def family(q: String): String =
    if (CoreQueries.queries.contains(q)) "CoreQueries" else "PipelineQueries"

  private def short(q: String): String = q.takeWhile(_ != '_')

  /** The queries one run times: eight of the registry's heaviest, as many
    * as the run-time budget allows (README). */
  val Timed: Seq[String] = Seq("p10", "p22", "p30", "p46", "p54", "q28", "q35", "q36")

  /** Light queries outside the timed set, run in set-up the way the
    * timed ones run (hashed and observed): they pay the JVM's first-query
    * costs (class loading, code generation, the first shuffle, the hash
    * path), which otherwise land on whichever query the seed puts first. */
  val WarmUp: Seq[String] = Seq("q1", "q37", "p1", "p56")

  def selected: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filter(q => Timed.contains(short(q)))

  def order(seed: Long, names: Seq[String]): Seq[String] = {
    val k = math.floorMod(seed, names.size.toLong).toInt
    names.drop(k) ++ names.take(k)
  }

  def inputDigest(args: Args): String = {
    val d = new Stats.Digest
    order(args.seed, selected).foreach(q => d.add(q + ";"))
    Files.list(Paths.get(DataDir)).toArray.map(_.toString).sorted.foreach { f =>
      d.add(f.split('/').last + ";")
      d.add(new String(java.util.Base64.getEncoder.encode(Files.readAllBytes(Paths.get(f)))))
    }
    d.hex
  }

  /** A value's canonical text: doubles to six significant digits, times as
    * epoch microseconds, NULL as `N`, arrays element-wise. */
  def canon(c: Column, dt: DataType): Column = when(c.isNull, lit("N")).otherwise(dt match {
    case FloatType | DoubleType | _: DecimalType =>
      when(isnan(c.cast(DoubleType)), lit("NaN")).otherwise(format_string("%.5e", c.cast(DoubleType)))
    case TimestampType => unix_micros(c).cast(StringType)
    case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
    case DateType => unix_date(c).cast(StringType)
    case BinaryType => hex(c)
    case ArrayType(et, _) => concat(lit("["), array_join(transform(c, x => canon(x, et)), ","), lit("]"))
    case _: StructType | _: MapType => to_json(c)
    case _ => c.cast(StringType)
  })

  /** One string per row: canonical values in column-name order. */
  def canonicalRow(df: DataFrame): Column = {
    val fields = df.schema.fields.sortBy(_.name.toLowerCase)
    concat_ws("\u0001", fields.map(f => canon(df.col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
  }

  private def readHashes(): Map[String, String] =
    if (!Files.exists(Paths.get(HashFile))) Map.empty
    else """"([^"]+)":\s*"([^"]+)"""".r.findAllMatchIn(
      new String(Files.readAllBytes(Paths.get(HashFile)), "UTF-8")).map(m => m.group(1) -> m.group(2)).toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val report = ctx.report
    val dir = Paths.get(DataDir).toAbsolutePath.toString
    val recording = ctx.args.recordHashes.nonEmpty
    val names = if (recording) SparkEntry.queries.keys.toSeq.sorted else order(ctx.args.seed, selected)
    val expected = readHashes() ++
      (if (ctx.args.inject.contains("hash")) Map(names.head -> "0:0:0") else Map.empty)
    val got = mutable.LinkedHashMap.empty[String, String]
    val seconds = mutable.LinkedHashMap.empty[String, (Double, Double)]

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      graft.functions.Dedup.releaseCcLabels()
      graft.functions.CheckpointUtil.releaseRegistered()
    }
    /** Constructs and executes `q`; returns its hash and both durations. */
    def runOne(q: String): (String, Double, Double) = {
      val fam = family(q)
      val obs = Observation(s"h_$q")
      val t0 = System.nanoTime()
      val df = ctx.call(s"$fam.construct", fam)(SparkEntry.queries(q)(spark, dir))
      val t1 = System.nanoTime()
      ctx.call(s"$fam.exec", fam) {
        val h = xxhash64(canonicalRow(df))
        df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
            sum(h.cast(DecimalType(38, 0))).as("s"))
          .write.format("noop").mode("overwrite").save()
      }
      val t2 = System.nanoTime()
      val m = obs.get
      (s"${m("n")}:${m("x")}:${Option(m("s")).getOrElse(0)}", (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    if (!recording) {
      SparkEntry.queries.keys.filter(q => WarmUp.contains(short(q))).foreach { q =>
        runOne(q)
        cleanup()
      }
      // constructing the timed queries once, untimed, warms the planner on
      // them; without it the median query time moved about 20% with the
      // seed's rotation of the order
      names.foreach(q => SparkEntry.queries(q)(spark, dir))
      cleanup()
    }
    ctx.timedStart()
    tracer.inPhase("queries")(names.foreach { q =>
      try {
        val (h, c, e) = runOne(q)
        got(q) = h
        seconds(q) = (c, e)
      } catch { case NonFatal(e) =>
        println(s"[cdcbench] $q failed: ${e.getMessage.linesIterator.take(1).mkString}")
      }
      cleanup()
      ctx.sampleBlocks()
    })

    val bad = names.filter(q => !got.get(q).exists(h => expected.get(q).contains(h)))
    bad.foreach(q => println(s"[cdcbench] $q hash ${got.getOrElse(q, "none")} expected " +
      expected.getOrElse(q, "none")))
    report.attempted += names.size
    report.failed += bad.size
    ctx.args.recordHashes.foreach { out =>
      Files.write(Paths.get(out), got.toSeq.sortBy(_._1)
        .map { case (q, h) => s"""  "$q": "$h"""" }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
      println(s"[cdcbench] recorded ${got.size} hashes to $out")
    }
    ctx.args.dumpCanonical.foreach(out => dump(ctx, names, dir, out))

    val perQuery = seconds.values.map { case (c, e) => (c + e) * 1000 }.toSeq
    val tail = if (perQuery.nonEmpty) Stats.tail(perQuery) else Stats.Tail(50, 0.0, 0)
    def famSum(f: String) = seconds.collect { case (q, (c, e)) if family(q) == f => c + e }.sum
    report.endToEnd("latency_p50_ms") = (if (perQuery.nonEmpty) Stats.median(perQuery) else 0.0, "ms")
    report.endToEnd("bulk_s") = (famSum("CoreQueries") + famSum("PipelineQueries"), "s")
    report.figure("cep_s", famSum("CoreQueries"), "s")
    report.figure("corpus_s", famSum("PipelineQueries"), "s")
    report.figure("queries", names.size.toDouble, "count")
    report.figure("query_p50_ms", report.endToEnd("latency_p50_ms")._1, "ms")
    report.figure(f"query_p${tail.percentile}%.1f_ms", tail.value, "ms")

    if (ctx.args.trace) {
      org.apache.spark.CdcbenchBus.drain(spark.sparkContext)
      Layers.Families.foreach { f =>
        val t = ctx.layers.of(f)
        val cs = seconds.collect { case (q, (c, _)) if family(q) == f => c }.sum
        val es = seconds.collect { case (q, (_, e)) if family(q) == f => e }.sum
        report.layer(s"$f.construct_s", cs, "s")
        report.layer(s"$f.exec_s", es, "s")
        report.layer(s"$f.jobs", ctx.layers.jobsOf(f).toDouble, "count")
        report.layer(s"$f.tasks", t.tasks.toDouble, "count")
        report.layer(s"$f.input_bytes", t.inputBytes.toDouble, "bytes")
        report.layer(s"$f.shuffle_write_bytes", t.shuffleWriteBytes.toDouble, "bytes")
        report.layer(s"$f.executor_run_s", t.runMs / 1000.0, "s")
        report.layer(s"$f.executor_deser_s", t.deserMs / 1000.0, "s")
        report.layer(s"$f.scheduler_delay_s", t.schedDelayMs / 1000.0, "s")
        report.layer(s"$f.spill_bytes", t.spillBytes.toDouble, "bytes")
      }
      seconds.foreach { case (q, (c, e)) =>
        report.layer(s"query.${short(q)}.s", c + e, "s")
      }
      report.layer("trace.coverage", tracer.coverage(Set("queries")), "ratio")
    }
  }

  /** Writes each query's sorted canonical rows, its schema and its oracle
    * SQL, for the DuckDB cross-check (`oracle_xcheck.py`). */
  private def dump(ctx: Ctx, names: Seq[String], dir: String, out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    names.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(ctx.spark, dir)
        val rows = df.select(canonicalRow(df)).collect().map(_.getString(0)).sorted
        Files.write(Paths.get(out, s"$q.rows"), rows.mkString("\u0002").getBytes("UTF-8"))
        Files.write(Paths.get(out, s"$q.schema"), df.schema.json.getBytes("UTF-8"))
        SparkEntry.oracleSql.get(q).foreach(sql => Files.write(Paths.get(out, s"$q.sql"), sql.getBytes("UTF-8")))
      } catch { case NonFatal(e) => println(s"[cdcbench] dump $q failed: ${e.getMessage}") }
      ctx.spark.catalog.clearCache()
      graft.functions.Dedup.releaseCcLabels()
      graft.functions.CheckpointUtil.releaseRegistered()
    }
  }
}
