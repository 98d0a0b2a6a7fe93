package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Dims, Medallion}
import graft.sinks.KeyedUpsert

/** `serve`: a closed loop with one client against a latest-value table and
  * a day-rollup table that set-up builds through `KeyedUpsert.upsert`.
  * Reads (point lookups, per-remote `bucket_ts` range scans, time-travel
  * reads, `changesSince`) make up 90% of ops; the rest are small
  * conditional-MERGE upserts (40 rows) that keep the version chain and vacuum
  * turning while reads run. Every read is checked against a driver-side
  * model of both tables, kept per committed version. */
final class Serve(ctx: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  val aliases = Map("throughput_per_s" -> "ops_per_s",
    "latency_p50_s" -> "read_p50_s", "latency_tail_s" -> "read_tail_s")
  import ctx.spark
  import Serve._

  private var latestDir, rollupDir: String = _
  private var latestSchema: StructType = _
  /** version -> key -> ord, for the retained versions of the latest table */
  private val model = mutable.LinkedHashMap[Long, Map[Key, Ord]]()
  /** version -> keys that upsert wrote */
  private val written = mutable.Map[Long, Set[Key]]()
  /** remote -> bucket_ts of every rollup row */
  private var rollupRows: Map[String, IndexedSeq[Long]] = _
  private var rnd: java.util.Random = _
  private val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var scannedRows, returnedRows, filesRead, reads = 0L
  private var emptyScans = 0L
  private val nOps = math.max(40, math.round(ctx.seconds / OpNominalS).toInt)

  private def current: Long = model.keys.last
  private def now: Map[Key, Ord] = model(current)

  def setup(): Unit = {
    // flat serial skew: every key of the latest table is populated whatever
    // the seed, so table size (and read cost) does not vary with it
    val g = new Gen.Events(ctx.seed,
      Gen.EventsShape(eventsPerWave = EventsPerWave, zipfS = 0.5))
    val rows = (1 to Waves).flatMap(_ => g.nextWave())
    val gold = Medallion.gold(
      Medallion.silver(Gen.frame(spark, rows, Gen.eventsSchema)),
      Dims.metricMappings(spark), Dims.deviceHistory(spark)).persist()
    try {
      latestDir = ctx.freshDir("serve-latest")
      rollupDir = ctx.freshDir("serve-rollup")
      val latest = latestOf(gold)
      latestSchema = latest.schema
      KeyedUpsert.upsert(spark, latestDir, latest, KeyCols, numBuckets = Buckets,
        tieBreak = Some("ord"), keepMaxOnMerge = true)
      KeyedUpsert.upsert(spark, rollupDir, Medallion.dayRollup(gold), Seq("id"),
        numBuckets = Buckets)
    } finally gold.unpersist()
    model.clear(); written.clear()
    model(KeyedUpsert.versions(spark, latestDir).last) = readModel()
    rollupRows = KeyedUpsert.read(spark, rollupDir)
      .select("remote_id", "bucket_ts").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toIndexedSeq }
    rnd = new java.util.Random(ctx.seed)
  }

  /** The batch form of `StreamingMedallion.runLatest`'s aggregate. */
  private def latestOf(gold: DataFrame): DataFrame =
    gold.groupBy(KeyCols.map(col): _*)
      .agg(max(struct(col("unix_timestamp"),
        col("element").cast("long").as("element_ord"),
        col("value_double"), col("value_string"))).as("top"))
      .select(KeyCols.map(col) ++ Seq(
        col("top.unix_timestamp").as("unix_timestamp"),
        col("top.element_ord").as("element_ord"),
        col("top.value_double").as("value_double"),
        col("top.value_string").as("value_string")): _*)
      .withColumn("ord", struct(col("unix_timestamp"), col("element_ord")))

  private def keyOf(r: Row): Key =
    (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
  private def ordOf(r: Row): Ord = (r.getLong(4), r.getLong(5))
  private val keyOrd = KeyCols.map(col) ++ Seq(col("ord.unix_timestamp"),
    col("ord.element_ord"))

  private def readModel(): Map[Key, Ord] =
    KeyedUpsert.read(spark, latestDir).select(keyOrd: _*).collect()
      .map(r => keyOf(r) -> ordOf(r)).toMap

  private def keyFilter(k: Key) =
    col("remote_id") === k._1 && col("metric_id") === k._2 &&
      col("provider_id") === k._3 && col("category_id") === k._4

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  /** Collect `df`, recording scan counters when tracing. */
  private def fetch(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    if (ctx.trace) {
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
      scannedRows += scans.map(_.metrics("numOutputRows").value).sum
      filesRead += scans.map(_.metrics("numFiles").value).sum
      returnedRows += rows.length
      reads += 1
    }
    rows
  }

  private def pointLookup(): Boolean = {
    val k = pick(now.keys.toIndexedSeq)
    val rows = fetch(KeyedUpsert.read(spark, latestDir).filter(keyFilter(k))
      .select(keyOrd: _*))
    rows.length == 1 && ordOf(rows(0)) == now(k)
  }

  /** A 3-day window that holds at least one of the remote's rollup rows
    * (it covers a day the model has, at a seeded offset), so every scan
    * returns rows and its check compares real data. */
  private def rangeScan(): Boolean = {
    val remote = pick(rollupRows.keys.toIndexedSeq.sorted)
    val from = pick(rollupRows(remote)) - rnd.nextInt(3) * 86400L
    val to = from + 3 * 86400L
    val rows = fetch(KeyedUpsert.read(spark, rollupDir)
      .filter(col("remote_id") === remote && col("bucket_ts") >= from &&
        col("bucket_ts") < to)
      .select("id", "bucket_ts"))
    if (rows.isEmpty) emptyScans += 1
    rows.nonEmpty && rows.length == rollupRows(remote).count(t => t >= from && t < to)
  }

  private def timeTravel(): Boolean = {
    val v = pick(model.keys.toIndexedSeq)
    val k = pick(model(v).keys.toIndexedSeq)
    val rows = fetch(KeyedUpsert.read(spark, latestDir, version = Some(v))
      .filter(keyFilter(k)).select(keyOrd: _*))
    rows.length == 1 && ordOf(rows(0)) == model(v)(k)
  }

  private def changes(): Boolean = {
    val v = pick(model.keys.toIndexedSeq)
    val got = fetch(KeyedUpsert.changesSince(spark, latestDir, v)
      .select(keyOrd: _*)).map(r => keyOf(r) -> ordOf(r)).toMap
    written.filter(_._1 > v).values.flatten.forall(k => got.get(k) == now.get(k)) &&
      got.forall { case (k, o) => now.get(k).contains(o) }
  }

  /** A small conditional MERGE: mostly newer values for existing keys, some
    * stale ones (which must not win) and a few new keys. */
  private def upsert(): Boolean = {
    val before = current
    val keys = now.keys.toIndexedSeq
    val batch = (1 to UpsertRows).map { i =>
      val u = rnd.nextDouble()
      val (k, base) =
        if (u < 0.1) {
          val (r, m, _, c) = pick(keys)
          ((r, m, 4L + rnd.nextInt(4), c), (Dims.IntervalStart, 0L))
        } else { val k = pick(keys); (k, now(k)) }
      val ts = if (u > 0.75) base._1 - 3600 else base._1 + 60 + rnd.nextInt(3600)
      val elem = 1000000L + rnd.nextInt(1000000)
      Row(k._1, k._2, k._3, k._4, ts, elem,
        new java.math.BigDecimal(rnd.nextInt(100000)).movePointLeft(2), null,
        Row(ts, elem))
    }.groupBy(r => keyOf(r)).values.map(_.head).toSeq
    KeyedUpsert.upsert(spark, latestDir, Gen.frame(spark, batch, latestSchema),
      KeyCols, numBuckets = Buckets, tieBreak = Some("ord"), keepMaxOnMerge = true)
    val v = KeyedUpsert.versions(spark, latestDir)
    val next = batch.foldLeft(now) { (m, r) =>
      val (k, o) = (keyOf(r), ordOf(r))
      if (m.get(k).exists(cur => Ordering[Ord].gteq(cur, o))) m else m + (k -> o)
    }
    model(v.last) = next
    written(v.last) = batch.map(keyOf).toSet
    model.keys.filterNot(v.contains).toSeq.foreach { old =>
      model.remove(old); written.remove(old)
    }
    v.last == before + 1 // committed exactly one version
  }

  /** `n` ops in a seeded order with a fixed composition per kind, so every
    * seed runs the same mix: 10% upserts, 45% point lookups, 20% range
    * scans, 12.5% time-travel reads, 12.5% changesSince. */
  private def mix(n: Int): Unit = {
    val kinds = Seq[(String, () => Boolean)](
      "sinks.upsert" -> (() => upsert()), "sinks.read_point" -> (() => pointLookup()),
      "sinks.read_range" -> (() => rangeScan()),
      "sinks.read_timetravel" -> (() => timeTravel()),
      "sinks.changes_since" -> (() => changes()))
    val shares = Seq(0.10, 0.45, 0.20, 0.125, 0.125)
    val counts = shares.map(s => math.max(1, math.round(s * n).toInt))
    val schedule = kinds.zip(counts).flatMap { case (k, c) => Seq.fill(c)(k) }
    val order = new scala.util.Random(rnd.nextLong()).shuffle(schedule)
    order.foreach { case (name, body) =>
      ctx.op(name)(body()).foreach(lat.getOrElseUpdate(name, mutable.ArrayBuffer()) += _)
    }
  }

  def warmUp(): Unit = {
    mix(WarmOps)
    lat.clear()
    scannedRows = 0; returnedRows = 0; filesRead = 0; reads = 0
  }

  def measure(): Map[String, Double] = {
    val t = System.nanoTime()
    mix(nOps)
    val wall = (System.nanoTime() - t) / 1e9
    val readS = lat.filter(_._1 != "sinks.upsert").values.flatten.toSeq
    ctx.report += Main.samples("reads", readS.size)
    ctx.report += f"[perfbench] write_p50_s ${Main.median(lat("sinks.upsert").toSeq)}%.4f s"
    Map("throughput_per_s" -> lat.values.map(_.size).sum / wall,
      "latency_p50_s" -> Main.median(readS),
      "latency_tail_s" -> Main.tail(readS))
  }

  def storeBytes(): Long =
    Main.dirBytes(Paths.get(latestDir)) + Main.dirBytes(Paths.get(rollupDir))

  def check(): Unit = {
    ctx.check("serve: latest table equals the model (last upsert visible)")(
      readModel() == now)
    ctx.check("serve input: every range scan returned rows")(emptyScans == 0)
    ctx.check("serve: every op kind ran")(
      Seq("sinks.upsert", "sinks.read_point", "sinks.read_range",
        "sinks.read_timetravel", "sinks.changes_since").forall(lat.contains))
  }

  def layers(): Map[String, Double] = {
    def med(k: String) = Main.median(lat.getOrElse(k, Nil).toSeq)
    Map(
      "sinks.read_point_s" -> med("sinks.read_point"),
      "sinks.read_range_s" -> med("sinks.read_range"),
      "sinks.read_timetravel_s" -> med("sinks.read_timetravel"),
      "sinks.changes_since_s" -> med("sinks.changes_since"),
      "sinks.upsert_s" -> med("sinks.upsert"),
      "sinks.rows_scanned_per_row_returned" ->
        scannedRows.toDouble / returnedRows.max(1),
      "sinks.files_per_read" -> filesRead.toDouble / reads.max(1)) ++
      Main.tableLayers(ctx, Seq(latestDir, rollupDir)) ++
      ctx.engine.totals(ctx.tracer.spans.toSeq, _.startsWith("sinks."))
  }
}

object Serve {
  type Key = (String, Long, Long, Long)
  type Ord = (Long, Long)
  val KeyCols = Seq("remote_id", "metric_id", "provider_id", "category_id")
  val EventsPerWave = 3000
  val Waves = 2
  val Buckets = 8
  /** Enough rows that each upsert touches every bucket, so the retained
    * versions (and store size) do not depend on which keys a seed picks. */
  val UpsertRows = 40
  val WarmOps = 24 // until the JIT settles on the read path
  /** Op count = seconds / this (fixed work per seed, see Ingest): the
    * measured mean op time of the mix on a 4-core host. */
  val OpNominalS = 0.19
}
