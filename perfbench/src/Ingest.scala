package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.pipeline.{Dims, Medallion}
import graft.sinks.KeyedUpsert
import graft.sources.Topic
import graft.streaming.{StreamOps, StreamingMedallion}

/** `ingest`: a closed loop with one producer. Each arrival wave is
  * published to the topic, then drained by one `runDayRollup` call — the
  * scheduled `AvailableNow` job pattern — which MERGEs the day rollup into
  * a keyed table. The wave count is fixed from `--seconds` (see
  * [[Ingest.WaveNominalS]]), so every counter repeats for a given seed. */
final class Ingest(ctx: Ctx) extends Workload {
  val aliases = Map("throughput_per_s" -> "events_per_s",
    "latency_p50_s" -> "wave_p50_s", "latency_tail_s" -> "wave_tail_s")
  import ctx.spark
  import Ingest._

  private val shape = Gen.EventsShape(eventsPerWave = EventsPerWave)
  private val nWaves = math.max(3, math.round(ctx.seconds / WaveNominalS).toInt)
  private var events: Gen.Events = _
  private var waves: IndexedSeq[IndexedSeq[org.apache.spark.sql.Row]] = _
  private var root: String = _
  private var progress: Seq[Seq[StreamingQueryProgress]] = Nil
  private val waveS = collection.mutable.ArrayBuffer[Double]()
  private val drainStartMs = collection.mutable.ArrayBuffer[Long]()

  private def topic = s"$root/topic"
  private def out = s"$root/rollup"

  def setup(): Unit = {
    events = new Gen.Events(ctx.seed, shape)
    waves = IndexedSeq.fill(nWaves)(events.nextWave())
    root = ctx.freshDir("ingest")
  }

  private def wave(dir: String, rows: Seq[org.apache.spark.sql.Row]): Boolean = {
    ctx.tracer.span("sources.publish") {
      Topic.publishEvents(Gen.frame(spark, rows, Gen.eventsSchema),
        s"$dir/topic", nFiles = FilesPerWave, append = true)
    }
    drainStartMs += System.currentTimeMillis()
    ctx.tracer.span("streaming.drain") {
      StreamingMedallion.runDayRollup(spark, s"$dir/topic", s"$dir/rollup",
        s"$dir/ckpt", maxFilesPerTrigger = FilesPerWave, numBuckets = Buckets)
    }
    true
  }

  def warmUp(): Unit = {
    val dir = ctx.freshDir("ingest-warm")
    val g = new Gen.Events(ctx.seed ^ 0x5eedL, shape.copy(eventsPerWave = WarmEvents))
    (1 to 2).foreach(_ => ctx.op("ingest.wave")(wave(dir, g.nextWave())))
    drainStartMs.clear()
  }

  def measure(): Map[String, Double] = {
    waves.foreach(w => ctx.op("ingest.wave")(wave(root, w)).foreach(waveS += _))
    progress = ctx.streams.take()
    ctx.report += Main.samples("waves", waveS.size)
    Map(
      "throughput_per_s" -> waves.map(_.size).sum / waveS.sum,
      "latency_p50_s" -> Main.median(waveS.toSeq),
      "latency_tail_s" -> Main.tail(waveS.toSeq))
  }

  def storeBytes(): Long = Main.dirBytes(Paths.get(out))

  /** The topic decoded in batch and deduplicated exactly as the stream
    * does (on a batch frame the watermark is a no-op). */
  private def dedupedTopic(): (DataFrame, DataFrame) = {
    val decoded = Topic.decodeEvents(Topic.readBatch(spark, topic))
    (decoded, StreamOps.watermarkDedup(decoded, "ts", "48 hours", tag = "evt",
      keyCols = Seq(col("event_id"), col("event_type"))))
  }

  def check(): Unit = {
    val (decoded, deduped) = dedupedTopic()
    val silver = Medallion.silver(deduped)
    val batch = Medallion.dayRollup(Medallion.gold(silver,
      Dims.metricMappings(spark), Dims.deviceHistory(spark)))
    ctx.check("ingest rollup equals batch dayRollup over the deduplicated topic")(
      rowHash(KeyedUpsert.read(spark, out), batch.columns) ==
        rowHash(batch, batch.columns))
    val nDecoded = decoded.count()
    ctx.check("ingest input: orphan serials present")(
      Medallion.orphans(silver, Dims.deviceHistory(spark)).count() > 0)
    ctx.check("ingest input: replays dropped by dedup")(
      nDecoded - deduped.count() > 0)
    ctx.check("ingest input: late rows present, none dropped by the watermark")(
      events.lateRows > 0 && progress.flatten.forall(
        _.stateOperators.forall(_.numRowsDroppedByWatermark == 0)))
    ctx.check("ingest: every wave drained in its own query")(
      progress.size == waveS.size && waveS.size == nWaves)
  }

  def layers(): Map[String, Double] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    def perWave(f: Seq[StreamingQueryProgress] => Double): Double =
      Main.median(progress.map(f))
    val startS = progress.zip(drainStartMs).collect {
      case (ps, t) if ps.nonEmpty =>
        (java.time.Instant.parse(ps.head.timestamp).toEpochMilli - t) / 1e3
    }
    val last = progress.lastOption.flatMap(_.lastOption)
    val q = math.max(1, waveS.size / 4)
    val (silverS, goldS, rollupS) = pipelineStages()
    val nEvents = waves.map(_.size).sum.toDouble
    Map(
      "sources.publish_s" -> Main.median(ctx.tracer.seconds("sources.publish")
        .takeRight(nWaves)),
      "sources.topic_bytes_per_event" ->
        Main.dirBytes(Paths.get(topic)) / nEvents,
      "streaming.start_s" -> Main.median(startS),
      "streaming.batches_per_wave" -> progress.map(_.size).sum.toDouble /
        progress.size.max(1),
      "streaming.nodata_batch_s" -> perWave(_.filter(_.numInputRows == 0)
        .map(dur(_, "triggerExecution")).sum),
      "streaming.query_planning_s" -> perWave(_.map(dur(_, "queryPlanning")).sum),
      "streaming.offset_log_s" -> perWave(_.map(p => dur(p, "latestOffset") +
        dur(p, "walCommit") + dur(p, "commitOffsets")).sum),
      "streaming.add_batch_s" -> perWave(_.map(dur(_, "addBatch")).sum),
      "streaming.state_rows" -> last.map(_.stateOperators
        .map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> last.map(_.stateOperators
        .map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "streaming.dedup_dropped_rows" -> progress.flatten.flatMap(
        _.stateOperators.flatMap(o => Option(o.customMetrics
          .get("numDroppedDuplicateRows")).map(_.doubleValue))).sum,
      "streaming.wave_growth_ratio" -> Main.median(waveS.takeRight(q).toSeq) /
        Main.median(waveS.take(q).toSeq),
      "pipeline.silver_s" -> silverS,
      "pipeline.gold_s" -> goldS,
      "pipeline.rollup_s" -> rollupS) ++
      Main.tableLayers(ctx, Seq(out)) ++
      ctx.engine.totals(ctx.tracer.spans.toSeq,
        Set("sources.publish", "streaming.drain"))
  }

  /** Medallion.silver, gold and dayRollup each timed alone over one
    * batch-decoded wave, with the stage input cached beforehand. Median of
    * three repeats. */
  private def pipelineStages(): (Double, Double, Double) = {
    val dir = ctx.freshDir("ingest-stage")
    Topic.publishEvents(Gen.frame(spark, waves.last, Gen.eventsSchema),
      s"$dir/topic", nFiles = FilesPerWave)
    val reps = (1 to 3).map { _ =>
      val decoded = Topic.decodeEvents(Topic.readBatch(spark, s"$dir/topic"))
        .persist()
      ctx.run(decoded)
      val silver = Medallion.silver(decoded).persist()
      val s = ctx.timed(ctx.tracer.span("pipeline.silver")(ctx.run(silver)))
      val gold = Medallion.gold(silver, Dims.metricMappings(spark),
        Dims.deviceHistory(spark)).persist()
      val g = ctx.timed(ctx.tracer.span("pipeline.gold")(ctx.run(gold)))
      val r = ctx.timed(ctx.tracer.span("pipeline.rollup")(
        ctx.run(Medallion.dayRollup(gold))))
      Seq(gold, silver, decoded).foreach(_.unpersist(true))
      (s, g, r)
    }
    (Main.median(reps.map(_._1)), Main.median(reps.map(_._2)),
      Main.median(reps.map(_._3)))
  }
}

object Ingest {
  val EventsPerWave = 5000
  val WarmEvents = 500
  val FilesPerWave = 2
  val Buckets = 8
  /** Wave count = seconds / this (the measured warm wave time on a 4-core
    * host), at least three so the median has a wave on each side: a fixed,
    * seed-determined amount of work. */
  val WaveNominalS = 3.9

  /** Order-insensitive fingerprint of a frame: row count plus the exact
    * sum of per-row 64-bit hashes over `cols`. */
  def rowHash(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
