package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, ProbeLog}
import graft.sinks.KeyedUpsert

/** Benchmark harness main: one workload per JVM.
  *
  * `--workload ingest|serve|curate --seed N --seconds S --trace 0|1
  *  --scratch DIR --trace-out DIR`
  *
  * Prints human-readable lines, then one `PERFBENCH_RESULT {json}` line
  * whose `metrics` map names to values: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics a workload measured with `--trace 1`
  * (run.py names, units and completes them from BENCHMARK.json). */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opt("--workload")
    val ctx = new Ctx(opt("--seed").toLong, opt("--seconds").toInt,
      opt("--trace") == "1", Paths.get(opt("--scratch")))
    val w: Workload = workload match {
      case "ingest" => new Ingest(ctx)
      case "serve" => new Serve(ctx)
      case "curate" => new Curate(ctx)
    }
    ProbeLog.hostStart()
    val builds = (1 to 3).map(_ => ctx.timed(w.setup()))
    val warmS = ctx.timed(w.warmUp())
    val setupS = ctx.sessionS + median(builds) + warmS
    if (ctx.trace) ctx.engine.drain(ctx.spark)
    ctx.engine.reset()
    ctx.streams.take()
    ctx.tracer.spans.clear()
    ctx.measuring = true
    var e2e = Map.empty[String, Double]
    val measuredS = ctx.timed { e2e = w.measure() }
    ctx.measuring = false
    if (ctx.trace) ctx.engine.drain(ctx.spark)
    var layers = Map.empty[String, Double]
    val layersS = ctx.timed(if (ctx.trace) layers = w.layers())
    val checkS = ctx.timed(w.check())
    println(f"[perfbench] phases: session ${ctx.sessionS}%.2f s, builds " +
      builds.map(b => f"$b%.2f").mkString("/") + f" s, warm-up $warmS%.2f s, " +
      f"measure $measuredS%.2f s, layers $layersS%.2f s, checks $checkS%.2f s")
    val metrics = Map("setup_s" -> setupS,
      "store_mb" -> w.storeBytes() / 1e6,
      "rss_peak_mb" -> rssPeakMb()) ++ e2e
    ctx.report.foreach(println)
    println(f"[perfbench] $workload seed=${ctx.seed} attempted=${ctx.attempted}" +
      f" failed=${ctx.failed} error_rate=${ctx.failed.toDouble / ctx.attempted.max(1)}%.4f")
    ctx.checks.foreach { case (k, ok) =>
      println(s"[perfbench] check ${if (ok) "ok  " else "FAIL"} $k") }
    println("[perfbench] {" + ProbeLog.hostJson() + "}")
    if (ctx.trace) {
      Files.createDirectories(Paths.get(opt("--trace-out")))
      val f = Paths.get(opt("--trace-out"), s"$workload-seed${ctx.seed}.json")
      Files.write(f, ctx.tracer.json.getBytes("UTF-8"))
      println(s"[perfbench] spans written to $f")
    }
    val chosen = if (ctx.trace) layers else metrics
    val body = chosen.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString(",")
    val correct = ctx.checks.forall(_._2) && ctx.failed == 0
    val aliases = w.aliases.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{$body},"aliases":{$aliases}}""")
    ctx.spark.stop()
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of the usual percentiles that still has at least ten of
    * `n` samples above it; None when no percentile does (n < 20). */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10)

  /** `xs` at its tail percentile (nearest rank); the maximum when there is
    * none. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    tailPercentile(s.size)
      .map(p => s((math.ceil(p / 100 * s.size).toInt - 1).max(0)))
      .getOrElse(if (s.isEmpty) 0.0 else s.last)
  }

  /** Report line: a timing's sample count and what its tail figure is. */
  def samples(what: String, n: Int): String =
    s"[perfbench] samples: $n $what, tail = " +
      tailPercentile(n).map(p => s"p$p").getOrElse(s"max of $n")

  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1e3)
      .getOrElse(0.0)

  /** Live data files and retained manifest versions of KeyedUpsert tables. */
  def tableLayers(ctx: Ctx, tables: Seq[String]): Map[String, Double] = {
    val spark = ctx.spark
    val files = tables.map { t =>
      KeyedUpsert.snapshot(spark, t).values.toSeq.map { rel =>
        val d = Paths.get(t, rel).toFile
        Option(d.listFiles()).map(_.count(_.getName.endsWith(".parquet")))
          .getOrElse(0)
      }.sum
    }.sum
    Map("sinks.live_files" -> files.toDouble,
      "sinks.manifest_versions" ->
        tables.map(KeyedUpsert.versions(spark, _).size).sum.toDouble)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** What a workload provides: build inputs (repeatable, for the set-up
  * median), an untimed warm-up, the measured loop, the traced layer
  * measurements and the untimed output checks. */
trait Workload {
  /** End-to-end metric -> this workload's name for it. */
  def aliases: Map[String, String]
  def setup(): Unit
  def warmUp(): Unit
  /** Returns throughput_per_s, latency_p50_s, latency_tail_s. */
  def measure(): Map[String, Double]
  def layers(): Map[String, Double]
  def check(): Unit
  def storeBytes(): Long
}

/** Per-run state: the session (Bench.scala's confs), tracer, listeners,
  * scratch root and the op/check tallies. */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean,
    val scratch: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.files.maxPartitionBytes", "524288")
    .config("spark.sql.files.openCostInBytes", "65536")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", scratch.resolve("local").toString)
    .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
    .config("spark.hadoop.hadoop.tmp.dir", scratch.resolve("hadoop").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  GraftExtensions.register(spark)
  /** JVM start to a ready session. */
  val sessionS: Double = (System.currentTimeMillis() - t0) / 1e3

  val tracer = new Tracer(spark.sparkContext)
  val engine = new EngineListener
  val streams = new StreamListener
  // the streaming listener also feeds the ingest self-check (rows dropped
  // by the watermark), so it is registered in untraced runs too
  spark.streams.addListener(streams)
  if (trace) spark.sparkContext.addSparkListener(engine)

  var measuring = false
  var attempted, failed = 0L
  val checks = mutable.ArrayBuffer[(String, Boolean)]()
  val report = mutable.ArrayBuffer[String]()
  private var dirs = 0

  def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case t: Throwable =>
      report += s"[perfbench] check $name threw $t"; false }
    checks += name -> r
  }

  /** A fresh directory under the run's scratch root. */
  def freshDir(name: String): String = {
    dirs += 1
    val d = scratch.resolve(s"$name-$dirs")
    Files.createDirectories(d)
    d.toString
  }

  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  /** One operation: timed under a span, failed without stopping the run
    * when it throws or its output check (`body`'s result) is false.
    * Measured ops count toward attempted/failed; a failed warm-up op fails
    * the run's checks. Returns seconds, or None on failure. */
  def op(span: String)(body: => Boolean): Option[Double] = {
    if (measuring) attempted += 1
    val t = System.nanoTime()
    val ok = try tracer.span(span)(body) catch { case e: Throwable =>
      report += s"[perfbench] op $span threw $e"
      false
    }
    val sec = (System.nanoTime() - t) / 1e9
    if (ok) Some(sec)
    else {
      if (measuring) failed += 1 else checks += s"warm-up $span" -> false
      report += s"[perfbench] op $span failed"
      None
    }
  }

  /** Materialize every row of `df` without collecting it. */
  def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
